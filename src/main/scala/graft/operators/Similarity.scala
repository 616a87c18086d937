package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Lineage
import graft.core.Tables._
import graft.functions.VectorFunctions._
import graft.plans.LexExtreme.{lexMax, lexMin}

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Two paths, as a 100 TB pipeline needs both:
  *  - brute-force top-k: broadcast the (small) query set against the full
  *    corpus scan — exact, one pass, no shuffle of the corpus; the
  *    baseline and the oracle-checked query.
  *  - multi-table random-hyperplane LSH buckets: corpus hashed once;
  *    only bucket-mates are scored. Sub-linear candidate sets at the cost
  *    of recall; the md5-derived plane matrix makes the ENTIRE pipeline
  *    oracle-checkable (q29), and recall is tested vs brute force.
  *
  * All cosines use exact quantized-integer inner products
  * (VectorFunctions) so scores — and hence rankings — are
  * engine/partitioning-independent. Vectors are quantized ONCE and
  * cached; the per-pair work in the quadratic joins is pure long
  * multiply-add.
  */
object Similarity extends graft.core.Memo.Owner {

  /** (vec_id, embedding, qemb = quantized longs, n2 = exact squared norm),
    * cached: every similarity operator joins against this twice.
    */
  private[graft] val corpusWithNorm = shared("corpusWithNorm", cache = true) { (spark, d) =>
    import spark.implicits._
    // a NULL embedding is not a vector: admitting it would seed
    // lloydCentroids with null Seqs and NULL every derived qemb/n2
    // (the nulled-fixture DegenSweep class) — every vector op
    // correctly never sees the row; audits that count raw rows read
    // the embeddings table directly, not this projection
    embeddings(spark, d)
      .filter($"embedding".isNotNull)
      .select($"vec_id", $"embedding", quantize($"embedding").as("qemb"))
      .withColumn("n2", dotPreQ($"qemb", $"qemb"))
  }

  /** Exact cosine top-k (k=5) for queries vec_id < 10 against the whole
    * corpus. The query side is broadcast; the corpus is scanned once
    * (BroadcastNestedLoopJoin), then a per-query top-k window.
    */
  def knnBruteForce(spark: SparkSession, d: String, k: Int = 5): DataFrame = {
    import spark.implicits._
    val corpus = corpusWithNorm(spark, d)
    val queries = corpus.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"qemb".as("q_qemb"), $"n2".as("q_n2"))
    val scored = corpus.join(broadcast(queries), $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("n_id"),
        cosineFromParts(dotPreQ($"q_qemb", $"qemb"), $"q_n2", $"n2").as("cos"))
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id".asc)))
      .filter($"rnk" <= k)
  }

  /** All-pairs embedding near-dup: pairs with cosine ≥ threshold. With the
    * driver's corpus the threshold 0.4 sits above the random-pair p99.9
    * (~0.375), so output is sparse. Quadratic — the LSH variant is the
    * scale path; this is the exact oracle-checked form.
    */
  def embeddingNearDup(spark: SparkSession, d: String, threshold: Double = 0.4): DataFrame = {
    import spark.implicits._
    val c = corpusWithNorm(spark, d)
    val a = c.select($"vec_id".as("x"), $"qemb".as("qa"), $"n2".as("na"))
    val b = c.select($"vec_id".as("y"), $"qemb".as("qb"), $"n2".as("nb"))
    a.join(b, $"x" < $"y")
      .select($"x", $"y", cosineFromParts(dotPreQ($"qa", $"qb"), $"na", $"nb").as("cos"))
      .filter($"cos" >= threshold)
  }

  /** IVF (inverted-file) ANN: a deterministic coarse quantizer — the
    * first `nLists` corpus vectors serve as centroids (a real deployment
    * trains k-means; determinism matters more here) — assigns every
    * vector to its nearest centroid by exact cosine; queries probe the
    * `nProbe` nearest lists and are scored exactly against only those
    * lists' members.
    *
    * Scale: assignment is one broadcast pass over the corpus (centroids
    * are tiny); the probe join is a hash partition on list id, touching
    * nProbe/nLists of the corpus per query — the standard
    * recall-vs-fanout dial. Rows-only checked; scoring agreement and
    * recall are asserted in DedupSimilaritySpec.
    */
  def annIvf(spark: SparkSession, d: String, k: Int = 5,
      nLists: Int = 16, nProbe: Int = 4): DataFrame = {
    import spark.implicits._
    val c = corpusWithNorm(spark, d)
    val centroids = c.filter($"vec_id" < nLists)
      .select($"vec_id".as("list_id"), $"qemb".as("c_qemb"), $"n2".as("c_n2"))
    def nearestLists(src: DataFrame, n: Int): DataFrame =
      src.crossJoin(broadcast(centroids))
        .select($"vec_id", $"list_id",
          cosineFromParts(dotPreQ($"qemb", $"c_qemb"), $"n2", $"c_n2").as("ccos"))
        .withColumn("crnk", row_number().over(
          Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"list_id".asc)))
        .filter($"crnk" <= n)
        .select($"vec_id", $"list_id")
    // corpus assignment: nearest single list per vector
    val assigned = c.join(nearestLists(c, 1), "vec_id")
    // queries probe their nProbe nearest lists
    val queries = c.filter($"vec_id" < 10)
    val qSide = queries
      .select($"vec_id".as("q_id"), $"qemb".as("q_qemb"), $"n2".as("q_n2"))
      .join(nearestLists(queries, nProbe)
        .select($"vec_id".as("q_id"), $"list_id".as("p_list")), "q_id")
    val scored = assigned.join(broadcast(qSide),
        $"list_id" === $"p_list" && $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("n_id"),
        cosineFromParts(dotPreQ($"q_qemb", $"qemb"), $"q_n2", $"n2").as("cos"))
      .dropDuplicates("q_id", "n_id")
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id".asc)))
      .filter($"rnk" <= k)
  }

  /** Multi-table random-hyperplane LSH ANN: L hash tables of `nPlanes`
    * sign bits each; a corpus vector is a candidate if it shares ANY
    * (table, signature) bucket with the query; candidates are scored
    * exactly and top-k'd per query.
    *
    * The plane weights are a deterministic md5-derived INTEGER matrix
    * materialized once on the driver (plans.Hyperplanes) and the whole
    * projection is one native codegen'd expression over the pre-quantized
    * vector — round 1 re-derived every weight per row through interpreted
    * HOFs (~3k hash evals/row, the q29 bench hot spot). Integer signs
    * also make the signatures engine-exact, so the ENTIRE pipeline
    * (weights → signatures → buckets → exact re-score → top-k) is
    * mirrored by a DuckDB oracle (SparkEntry q29).
    *
    * Scale: the corpus is hashed once in the scan stage, then the join is
    * a hash partition on the bucket key — candidate volume tracks bucket
    * density, not corpus².
    */
  /** Embedding near-dup pairs via hyperplane-LSH bucket candidates +
    * exact re-check — the sub-quadratic analog of `embeddingNearDup`,
    * same output contract (x < y, cos ≥ threshold) restricted to pairs
    * that collide in ≥ 1 of the `nTables` hash tables.
    *
    * Recall is governed by the similarity of the true pairs:
    * p(table) = (1 − acos(cos)/π)^nPlanes, recall = 1 − (1 − p)^nTables.
    * At cos ≈ 0.9 the defaults give > 99 % recall; at this corpus's
    * planted cos ≈ 0.4–0.5 hyperplane LSH is the wrong tool at ANY
    * affordable table count (p ≈ 0.06/table) — which is why
    * `semanticDedup`'s oracle form stays exact and the LSH form is the
    * high-threshold scale path (recall measured in DedupSimilaritySpec).
    *
    * Scale: corpus hashed once in the scan stage; candidate join is hash
    * partitioned on (table, signature); exact scoring touches only
    * bucket-mates.
    */
  def embeddingNearDupLsh(spark: SparkSession, d: String,
      threshold: Double = 0.4, nPlanes: Int = 4, nTables: Int = 16): DataFrame = {
    import spark.implicits._
    import graft.plans.HyperplaneSigs.hyperplaneSigs
    val c = corpusWithNorm(spark, d)
      .withColumn("sigs", hyperplaneSigs($"qemb", nTables, nPlanes))
    val buckets = c.select($"vec_id", $"qemb", $"n2",
      posexplode($"sigs").as(Seq("tbl", "sig")))
    val candidates = buckets.as("a").join(buckets.as("b"),
        $"a.tbl" === $"b.tbl" && $"a.sig" === $"b.sig" &&
          $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("x"), $"b.vec_id".as("y"),
        $"a.qemb".as("qa"), $"b.qemb".as("qb"), $"a.n2".as("na"), $"b.n2".as("nb"))
      .dropDuplicates("x", "y")
    candidates
      .select($"x", $"y", cosineFromParts(dotPreQ($"qa", $"qb"), $"na", $"nb").as("cos"))
      .filter($"cos" >= threshold)
  }

  /** IVF-blocked embedding near-dup pairs: the sub-quadratic pair
    * generator for the LOW-similarity regime where hyperplane LSH has a
    * recall wall (p ≈ 0.06/table at cos ≈ 0.4 — see embeddingNearDupLsh).
    * IVF blocking has no such wall: near-dup pairs are L2-close, so they
    * land in the same or adjacent Voronoi cells of a Lloyd-trained coarse
    * quantizer regardless of their absolute cosine.
    *
    * Construction: train `nLists` centroids (lloydCentroids — the same
    * trajectory as annIvfKmeans, driver-bounded k·dims collect), rank
    * every vector's lists by exact L2 in the scan stage (literal-argsort,
    * no join), multi-assign every vector to its `nProbe` nearest lists,
    * then candidates = pairs whose probe sets INTERSECT (a self-join on
    * list id, normalized to x < y). Multi-assignment on both sides is
    * what closes the Voronoi-boundary gap: a near-dup pair split across
    * two cells still shares its second-choice lists. Candidates are
    * re-scored with the exact quantized cosine and filtered at
    * `threshold` — same (x, y, cos) contract as `embeddingNearDup`,
    * restricted to IVF-blocked pairs.
    *
    * Scale: the candidate self-join hash-partitions on list id; total
    * volume is nProbe²·N²/nLists — sub-quadratic with nLists ∝ √N (the
    * production dial; nProbe trades recall for fanout), vs the exact
    * form's N². Everything is integer-exact, so the whole pipeline
    * (training included) is mirrored by the q55 DuckDB oracle; recall vs
    * the exact pair set is asserted in DedupSimilaritySpec.
    */
  def embeddingNearDupIvf(spark: SparkSession, d: String,
      threshold: Double = 0.4, nLists: Int = IvfLists, nProbe: Int = 4,
      updates: Int = IvfUpdates, tables: Int = 1, firstTable: Int = 0): DataFrame = {
    import spark.implicits._
    val c = corpusWithNorm(spark, d)
    // one candidate stream per coarse quantizer; `tables` > 1 unions
    // independently-seeded quantizers (the LSH-style recall
    // amplification — see the QualitySweep adjudication in SCALING.md:
    // a single fine quantizer's pair recall FALLS with nLists at this
    // corpus's low threshold, and unioning R independent partitions
    // compounds it back as 1-(1-r)^R at R× linear cost). tables = 1 is
    // byte-identical to the pre-amplification plan (no Union node).
    // `firstTable` offsets the seed index — QualitySweep's curve mode
    // measures each quantizer's marginal recall separately with it.
    //
    // The exact-cosine filter runs BEFORE the dedup exchange: cos is
    // pair-intrinsic (identical on every duplicate (x, y) row), so
    // filter∘dedup ≡ dedup∘filter — but filtering in the join stage
    // means the dedup shuffle carries only FOUND pairs (dup-density-
    // bounded) instead of the full N·targetCell·nProbe²/2 candidate
    // fan-out, which at 100× × 9 tables is the difference between a
    // ~20M-row exchange and a ~4B-row one (the round-17 QualitySweep
    // gate OOM).
    (firstTable until firstTable + math.max(1, tables)).map { t =>
      val cents = lloydCentroids(spark, d, nLists, updates, t)
      val probes = centRanked(c.select($"vec_id", $"qemb", $"n2"), cents, nProbe)
        .select($"vec_id", $"qemb", $"n2",
          explode(transform(slice($"ds", 1, nProbe), p => p.getField("cid")))
            .as("list_id"))
      probes.as("p").join(probes.as("b"),
          $"p.list_id" === $"b.list_id" && $"p.vec_id" < $"b.vec_id")
        .select($"p.vec_id".as("x"), $"b.vec_id".as("y"),
          cosineFromParts(dotPreQ($"p.qemb", $"b.qemb"), $"p.n2", $"b.n2").as("cos"))
        .filter($"cos" >= threshold)
    }.reduce(_ unionByName _)
      .dropDuplicates("x", "y")
  }

  /** Semantic (embedding-space) dedup: drop every vector that is the
    * HIGHER id of some near-dup pair — the greedy keep-lowest-id winner
    * rule, the decision stage on top of a near-dup pair source. Output is
    * the kept corpus (vec_id, label).
    *
    * Parameterized over the pair generator (verdict-r1 pattern: the
    * composite must ride the declared ladder, not hardwire one rung).
    * The DEFAULT is `embeddingNearDupIvf` — the sub-quadratic blocking
    * that works at LOW thresholds (this corpus's near-dups sit at
    * cos ≈ 0.4, where hyperplane LSH cannot reach recall; k-means/IVF
    * blocking can, because near-dups are L2-close). `embeddingNearDup`
    * remains the exact/oracle-gold rung (q25) and
    * `embeddingNearDupLsh` the high-threshold alternative.
    * The anti-join is a hash join on vec_id; the loser side is ∝ dup
    * density — never force-broadcast.
    */
  def semanticDedup(spark: SparkSession, d: String, threshold: Double = 0.4,
      pairGen: (SparkSession, String, Double) => DataFrame =
        embeddingNearDupIvf(_, _, _)): DataFrame = {
    import spark.implicits._
    val losers = pairGen(spark, d, threshold).select($"y".as("vec_id")).distinct()
    embeddings(spark, d).select($"vec_id", $"label")
      .join(losers, Seq("vec_id"), "left_anti")
  }

  /** `semanticDedup` with the IVF blocking dial APPLIED instead of
    * documented: nLists scales to hold the mean Voronoi cell at
    * `targetCell` vectors, so candidate volume is
    * ≈ N·targetCell·nProbe²/2 — LINEAR in the corpus, vs the fixed-list
    * form's N²/nLists (the round-14 catalog sweep measured the q55
    * bench form at 75× cost for 10× data — exactly the predicted
    * N²/8). The q55 `queries` entry keeps nLists = 8 because the DuckDB
    * oracle replays the training trajectory with a STATIC list count;
    * this is the deployment entry point. On corpora small enough that
    * N/targetCell ≤ 8 the two forms are IDENTICAL (same trajectory,
    * same pairs — the spec's equality law).
    *
    * Scale contract: the Lloyd trainer holds centroids on the driver
    * (nLists·dims longs — the bounded per-round collect MLlib's KMeans
    * also does). Assignment/probing rides `centRanked`, which keeps
    * the scan-stage literal-argsort plan below the broadcast dial and
    * swaps to the broadcast-centroid-table + k-bounded-TopK arm above
    * it (row-identical by AnnAssignSpec's law) — so nLists is no
    * longer plan-size-bounded; past driver-collect comfort (~10⁵
    * lists) shard the corpus (the cells are independent). The N-count
    * here is one driver scalar off the cached corpus (the A3 shape).
    */
  def semanticDedupScaled(spark: SparkSession, d: String,
      threshold: Double = 0.4, targetCell: Int = 256, nProbe: Int = 4,
      updates: Int = IvfUpdates): DataFrame = {
    val n = corpusWithNorm(spark, d).count()
    val nLists = math.max(8L, n / targetCell).toInt
    semanticDedup(spark, d, threshold,
      (s, dir, t) => embeddingNearDupIvf(s, dir, t, nLists, nProbe, updates,
        annTables(s, nLists)))
  }

  /** The RECALL half of the IVF blocking dial: how many independently-
    * seeded coarse quantizers (`tables`) the above-knee paths union.
    *
    * Why it exists (QualitySweep, round 17 — measured, not modeled): a
    * SINGLE quantizer at the nLists = N/256 cost dial holds candidate
    * volume linear, but its pair recall at this corpus's low dedup
    * threshold (cos 0.4 — planted near-dups are NOT L2-tight) falls
    * with list count: 0.999 at 8 lists, 0.637 at 78 (10×). The probed
    * volume fraction nProbe/nLists shrinks a decade per decade, and
    * pairs at cos 0.4 don't concentrate in one Voronoi cell. Unioning
    * R independent partitions compounds recall as 1-(1-r)^R while
    * keeping TOTAL cost R × linear — the LSH multi-table amplification
    * applied to IVF blocking. R grows with the DECADE
    * d = ⌈log10(nLists/8)⌉, not with N, as R = (d+1)² — calibrated
    * from the MEASURED QualitySweep --curve runs (tables are
    * near-independent: cumulative recall tracks 1-(1-r)^R to within
    * 0.01 at both decades):
    *
    *   10×  (78 lists,  r = .637/.260 pair/dense): R=4 → .980/.697,
    *        both above the 0.9×-of-1× floors (.899/.618)
    *   100× (781 lists, r = .238/.112):            R=9 → .907/.661,
    *        both above the floors; R=8 fails dense (.615 < .618)
    *
    * The square is the honest cost of CONSTANT recall at a
    * locality-free threshold: per-table recall decays ≈ one decade of
    * probed-volume per data decade, so holding the floor costs
    * quadratically-in-d many tables — total work N·(d+1)², i.e.
    * N·polylog(N), vs the single-table form's linear cost with
    * decaying recall. Cap 16 (the 1000× extrapolation; beyond it raise
    * targetCell instead — a bigger cell buys per-table recall at
    * linear cost where another table's marginal gain has gone
    * geometric-diminishing). 1 below/at the knee (8 lists —
    * byte-stable catalog plans); override via spark.graft.ann.tables.
    * QualitySweep's law (recall ≥ 0.9 × the 1× floor at 10× and 100×)
    * is the regression gate.
    */
  private[graft] def annTables(spark: SparkSession, nLists: Int): Int =
    spark.conf.getOption("spark.graft.ann.tables")
      .map { v =>
        try v.toInt
        catch {
          case _: NumberFormatException => sys.error(
            s"spark.graft.ann.tables=[$v] is not an integer — set the " +
              "dial to a quantizer count (default: auto from nLists)")
        }
      }.getOrElse {
        if (nLists <= 8) 1
        else {
          val d = math.ceil(math.log10(nLists / 8.0)).toInt
          math.min(16, (d + 1) * (d + 1))
        }
      }

  /** Per-label centroid, flat (label, i, mean) rows: the exact mean of
    * each embedding dimension over the label's vectors — the
    * class-prototype computation behind semantic clustering diagnostics
    * (and the k-means update step, were one iterating). Sums are exact
    * quantized longs, so the mean — one integer-exact sum divided by one
    * count — is partitioning-independent; the 1e7 quantization scale is
    * divided back out.
    *
    * Scale: posexplode fans each vector into dims rows in the scan stage;
    * one shuffle on (label, i) with map-side partial sums. At extreme
    * dims, aggregate on the array form (element-wise long-array sum) to
    * avoid the fan-out — same result, same single shuffle.
    */
  /** q141: embedding data-validation audit — per label: vector count,
    * dimensionality agreement (min/max length), exact quantized-norm
    * extremes, and degenerate-vector counts (zero norm, near-zero norm
    * below 0.01²·1e14 in quantized units). The ingest gate a vector
    * pipeline runs before touching an index: silent zero vectors and
    * dim drift are the two classic embedding-pipeline corruptions.
    *
    * Scale: one map-only projection (the shared quantized-corpus memo)
    * into one per-label aggregate — norms are exact integer longs, so
    * min/max/counts are engine-exact with no FP comparison anywhere.
    */
  def embeddingAudit(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    corpusWithNorm(spark, d)
      .join(embeddings(spark, d).select($"vec_id", $"label"), "vec_id")
      .select($"label", size($"embedding").cast("long").as("dim"), $"n2")
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        min($"dim").as("min_dim"), max($"dim").as("max_dim"),
        min($"n2").as("min_n2"), max($"n2").as("max_n2"),
        sum(($"n2" === 0L).cast("long")).as("n_zero"),
        sum(($"n2" < 10000000000L).cast("long")).as("n_near_zero"))
  }

  /** (label, i, s = Σ quantized component, cnt = vectors in the label)
    * — memo-cached once per session+dir: q58's centroids, q203's Fisher
    * between-class sums and q206's centroid-similarity matrix all fold
    * over this ONE exploded (vector, dim) aggregate (|labels|·dims
    * rows, trivially cacheable). `cnt` equals the label's vector count
    * at every dim because vectors share one dimensionality — the q141
    * embeddingAudit ingest contract.
    */
  private[graft] val labelDimSums = shared("labelDimSums", cache = true) { (spark, d) =>
    import spark.implicits._
    embeddings(spark, d)
      .select($"label", posexplode(quantize($"embedding")).as(Seq("i", "v")))
      .groupBy($"label", $"i")
      .agg(sum($"v").as("s"), count(lit(1)).as("cnt"))
  }

  def labelCentroids(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    labelDimSums(spark, d)
      .select($"label", $"i".cast("long").as("i"),
        (($"s".cast("double") / lit(1e7)) / $"cnt").as("mean"))
  }

  /** Lloyd's k-means over the quantized embedding corpus: `iters`
    * assignment rounds with `iters − 1` centroid updates between them,
    * seeded by the k lowest vec_ids (deterministic init — the property
    * that matters for a hash-compared result; k-means++ would trade it
    * for quality). Output: (vec_id, cluster, dist2) against the final
    * centroids.
    *
    * Everything is exact integer math at the shared 1e7 quantization
    * scale: distances are exact long sums (‖a‖² + ‖c‖² − 2⟨a,c⟩ via the
    * native QuantizedDot expression), updated centroid components are
    * round(sum/count) re-quantized to longs — so assignments, and hence
    * the whole trajectory, are partitioning- and engine-independent
    * (the DuckDB oracle unrolls the same three rounds as chained CTEs).
    *
    * Scale: the classic Spark k-means shape (MLlib does the same) — the
    * k×dims centroid matrix is collected to the driver each round
    * (bounded by k·dims, NOT by data) and re-broadcast as literals, so
    * assignment is a scan-stage argmin over literal arrays with no join
    * at all, and the update is one map-side-combined (cluster, dim)
    * aggregation per round.
    */
  def kmeansAssign(spark: SparkSession, d: String,
      k: Int = IvfLists, iters: Int = IvfUpdates + 1): DataFrame = {
    import spark.implicits._
    val cents = lloydCentroids(spark, d, k, iters - 1)
    assignTo(corpusWithNorm(spark, d), cents)
      .select($"vec_id", $"cluster", $"dist2")
  }

  /** Exact-L2 argmin assignment of every corpus vector against a literal
    * centroid array: per-row struct-min over k (dist², cid) options —
    * scan-stage, no join, deterministic ties by lowest cid.
    */
  /** The per-row (dist², centroid-id) option array over a DRIVER-held
    * centroid table, sorted by centroid id — the scan-stage argmin/probe
    * primitive every IVF/k-means consumer shares. On an EMPTY corpus the
    * trainer returns zero centroids and a bare `array()` would type as
    * ARRAY<VOID> (`getField` then fails at ANALYSIS, before any row
    * could flow) — so the zero-centroid case emits a typed empty array:
    * the plan compiles and `array_min`/`get` yield typed NULLs. A row
    * CAN observe the empty array (a corpus whose ids < k are all
    * null-filtered trains zero centroids — the mixed-fixture DegenSweep
    * class), which is why consumers read the first option with
    * 0-based `get` (NULL out of bounds) rather than ANSI-throwing
    * `element_at`, and NULL list_ids drop through the probe joins.
    */
  private[graft] def centOptsArray(cents: Array[(Long, Seq[Long])],
      cidName: String = "cid"): Column = {
    val opts = cents.sortBy(_._1).map { case (cid, q) =>
      val c2 = q.map(x => x * x).sum
      struct(
        (col("n2") - lit(2L) * dotPreQ(col("qemb"), typedLit(q)) + lit(c2))
          .as("dist2"),
        lit(cid).as(cidName))
    }
    if (opts.isEmpty) array().cast(s"array<struct<dist2:bigint,$cidName:bigint>>")
    else array(opts.toIndexedSeq: _*)
  }

  /** The conf dial for the centroid-ASSIGNMENT arm: at or above this
    * list count, `centRanked` swaps the plan-literal argsort for an
    * argmin/top-k JOIN against a broadcast centroid table. The literal
    * arm is strictly better at catalog scale (scan-stage expression,
    * zero extra operators), but its plan size grows ∝ nLists·dims
    * literals — the one remaining driver-side bound the round-15
    * verdict named (comfortable to ~10⁵ lists, i.e. ~25M vectors at the
    * default cell). The broadcast arm's cost is a broadcast of
    * nLists·dims longs plus an N·nLists row fan-out collapsed map-side
    * by the k-bounded TopKRowsAgg partial — unbounded in nLists, the
    * 100 TB-corpus path.
    *
    * Default 256 from the DialBench `assign` crossover sweep (20k×64
    * corpus, round 16): literal/broadcast secs 1.28/1.73 at 8 lists,
    * 0.75/0.62 at 64, 1.32/0.76 at 256, 4.20/0.74 at 1024, 19.3/3.1 at
    * 4096, 109.6/11.2 at 16384 — the literal arm's blowup is Spark's
    * silent codegen→interpreted fallback once the argsort expression
    * outgrows the compiler, which lands far below the driver-memory
    * bound the round-15 doc estimated. 256 is the last rung where the
    * literal arm is within ~2× (and keeps every catalog/10×/30×-sweep
    * plan byte-stable: the dial formula first reaches 256 lists only
    * past N = 65536 vectors, i.e. the 100× third decade).
    */
  private[graft] def broadcastAssignMinLists(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.ann.assign.broadcastMinLists")
      .map { v =>
        try v.toInt
        catch {
          case _: NumberFormatException => sys.error(
            s"spark.graft.ann.assign.broadcastMinLists=[$v] is not an " +
              "integer — set the dial to a list-count threshold (default 256)")
        }
      }.getOrElse(256)

  /** Attach `ds` — each row's ascending (dist², cid) centroid ranking,
    * the shared probe/assignment primitive (`get(ds, 0)` = argmin
    * assignment, `slice(ds, 1, nProbe)` = probe set) — choosing the arm
    * by the dial above:
    *
    *   - literal arm (nLists below the dial): today's scan-stage
    *     `array_sort(centOptsArray)` expression, byte-identical plans
    *     for every catalog entry (full-length `ds`; callers slice).
    *   - broadcast arm: centroids become a BROADCAST TABLE (cid, qc,
    *     c2); each vector meets them in a broadcast nested-loop whose
    *     streamed side is the corpus scan, and the per-vector top-
    *     `nProbe` collapses MAP-SIDE via the k-bounded TopKRowsAgg
    *     partial (the grouped TakeOrderedAndProject) — the vec_id
    *     shuffle carries ≤ nProbe rows per vector, never nLists. One
    *     hash join re-attaches the payload columns. `ds` is exactly the
    *     first `nProbe` entries of the literal arm's ranking: same
    *     exact integer dist², same ascending (dist², cid) order, so
    *     every consumer's probe set — and therefore its output — is
    *     row-identical across arms (AnnAssignSpec pins this per call
    *     site).
    *
    * `df` must carry (vec_id, qemb, n2) with NON-NULL, UNIQUE vec_id
    * (every call site feeds key-columned corpus rows; a null id would
    * ride through the literal arm but drop at the broadcast arm's
    * vec_id equi-join, and a DUPLICATE id would merge both rows'
    * candidate sets into one wrong ranking at the groupBy — ids are
    * the join key AND the grouping key, so both halves of the contract
    * are on the caller); extra columns ride through. Callers may slice
    * `ds` only up to `nProbe`. Note the broadcast arm evaluates `df`'s
    * lineage TWICE (once feeding `tops`, once as the re-attach join's
    * left side) — callers on the large-nLists path whose input is an
    * expensive lineage should cache upstream (the catalog call sites
    * all feed either a cached corpus or a plain scan).
    */
  private[graft] def centRanked(df: DataFrame,
      cents: Array[(Long, Seq[Long])], nProbe: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    if (cents.length < broadcastAssignMinLists(spark))
      df.withColumn("ds", array_sort(centOptsArray(cents)))
    else {
      val ct = broadcast(
        spark.createDataFrame(cents.toIndexedSeq.map { case (cid, q) =>
          (cid, q, q.map(x => x * x).sum)
        }).toDF("cid", "qc", "c2"))
      val tops = df.select($"vec_id", $"qemb", $"n2")
        .crossJoin(ct)
        .select($"vec_id", struct(
          ($"n2" - lit(2L) * dotPreQ($"qemb", $"qc") + $"c2").as("dist2"),
          $"cid").as("opt"))
        .groupBy($"vec_id")
        .agg(graft.plans.TopKRowsAgg.topKRows($"opt", nProbe).as("ds"))
      // inner join is row-preserving here: the broadcast arm only runs
      // with ≥ dial-many centroids, so every df row emits nLists
      // candidates and every vec_id survives the aggregate
      df.join(tops, Seq("vec_id"))
    }
  }

  private[graft] def assignTo(c: DataFrame, cents: Array[(Long, Seq[Long])]): DataFrame = {
    import c.sparkSession.implicits._
    // argmin assignment rides the same dial as the probe primitive:
    // below it, the literal array_min (scan-stage, the catalog plan);
    // above it, centRanked's broadcast top-1 — array_min over ascending
    // (dist², cid) structs IS the sort's head, so the arms are
    // row-identical. This matters for the TRAINER, not just consumers:
    // lloydCentroids assigns every round, and the first 100× sweep leg
    // showed its literal argsort at 781 lists blowing past Janino's
    // method limit ("Failed to compile" → interpreted evaluation →
    // a 297 s training round).
    if (cents.length < broadcastAssignMinLists(c.sparkSession))
      c.select($"vec_id", $"qemb", $"n2",
          array_min(centOptsArray(cents, "cluster")).as("best"))
        .select($"vec_id", $"qemb", $"n2",
          $"best".getField("cluster").as("cluster"),
          $"best".getField("dist2").as("dist2"))
    else
      centRanked(c.select($"vec_id", $"qemb", $"n2"), cents, 1)
        .select($"vec_id", $"qemb", $"n2",
          get($"ds", lit(0)).getField("cid").as("cluster"),
          get($"ds", lit(0)).getField("dist2").as("dist2"))
  }

  /** Lloyd's trainer: seed with the k lowest vec_ids, run `updates`
    * (assign → re-quantized-mean) rounds, return the centroid matrix —
    * k·dims longs on the driver, the bounded reduction MLlib's KMeans
    * also does each round (here one narrow fold per round, `lloydStep`).
    * Memo-shared per (dir, k, updates): q62, q67 and q91 all train the
    * same (8, 2) quantizer, so the rounds run ONCE per session and later
    * callers collect the tiny cached table.
    */
  /** q185: IVF list-balance audit — the index-ops datasheet behind the
    * q125/q155 IVF deployments: assign EVERY corpus vector to its
    * exact-L2-nearest trained list (the same memo-shared Lloyd (8, 2)
    * quantizer and the same scan-stage literal-argsort assignment the
    * probe path uses) and report each list's population, its exact 1e6
    * corpus share, and the global imbalance factor max·nLists/N (1e6 =
    * perfectly balanced). The probe cost model nProbe/nLists assumes
    * balance; this is the query that says whether the assumption holds
    * — a skewed list is the IVF analogue of a hot shuffle key, and the
    * fix (train longer / more lists / split the hot list) starts from
    * this table.
    *
    * Scale: assignment is one scan-stage expression over the corpus
    * (centroids are a k·dims literal); the audit is a ≤ nLists
    * aggregate + 1-row broadcast.
    */
  def ivfBalance(spark: SparkSession, d: String, nLists: Int = IvfLists,
      updates: Int = IvfUpdates): DataFrame = {
    import spark.implicits._
    val cents = lloydCentroids(spark, d, nLists, updates)
    val pl = corpusWithNorm(spark, d)
      .select(get(array_sort(centOptsArray(cents)), lit(0))
        .getField("cid").as("list_id"))
      .groupBy($"list_id").agg(count(lit(1)).as("n_vecs"))
    val tot = pl.agg(sum($"n_vecs").as("n"), max($"n_vecs").as("mx"))
    pl.crossJoin(broadcast(tot))
      .select($"list_id", $"n_vecs",
        expr("n_vecs * 1000000L div n").as("share_q6"),
        expr(s"mx * ${nLists}L * 1000000L div n").as("imbalance_q6"))
  }

  /** q192: IVF probe sweep — the recall-vs-cost curve that picks
    * `nProbe`: for each probe budget (1, 2, 4, 8 lists) the trained-IVF
    * top-k (the q67 probe path) is compared against the EXACT brute
    * top-k over the same queries, reporting candidate volume and
    * recall@k per budget. q185 audits whether the lists are balanced;
    * this audits what a probe budget actually buys — together they are
    * the index-tuning datasheet an ANN deployment publishes before
    * anyone trusts `nProbe = 3`.
    *
    * One pass per side, no per-budget re-joins: the candidate join runs
    * ONCE at the maximum budget with each candidate carrying its list's
    * probe rank (a corpus vector lives in exactly one list, so no
    * dedup), then fans out to the budgets it satisfies via a scan-stage
    * literal-array filter. The brute reference enters the SAME pipeline
    * as sentinel budget 0 (its recall row is the 1.0 calibration
    * check), so ALL (budget, query) top-k sets come from ONE native
    * bounded-heap aggregate (`Ranks.groupTopK` — map-side partial
    * heaps, no full rank of the scored candidates) — cosines are near-unique doubles
    * (a per-query window would instead sort each query's whole
    * candidate set through one partition).
    *
    * Scale: queries broadcast; the IVF candidate join hash-partitions
    * on list id; the brute side is the declared exact reference (the
    * q14/q25 rung discipline — recall cannot be measured without the
    * truth), bounded by |queries| · corpus.
    */
  def ivfProbeSweep(spark: SparkSession, d: String, k: Int = 10,
      nLists: Int = IvfLists, updates: Int = IvfUpdates,
      probes: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    import spark.implicits._
    val cents = lloydCentroids(spark, d, nLists, updates)
    val c = corpusWithNorm(spark, d)
    val ranked = c.select($"vec_id", $"qemb", $"n2",
      array_sort(centOptsArray(cents)).as("ds"))
    val assigned = ranked.select($"vec_id", $"qemb", $"n2",
      get($"ds", lit(0)).getField("cid").as("list_id"))
    val maxProbe = probes.max
    val qp = ranked.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"qemb".as("q_qemb"), $"n2".as("q_n2"),
        posexplode(slice($"ds", 1, maxProbe)).as(Seq("pp", "p")))
      .select($"q_id", $"q_qemb", $"q_n2",
        ($"pp" + 1).cast("long").as("p_rn"), $"p".getField("cid").as("p_list"))
    val probeLit = typedLit(probes.map(_.toLong))
    val leveled = assigned.join(broadcast(qp),
        $"list_id" === $"p_list" && $"vec_id" =!= $"q_id")
      .select(
        explode(filter(probeLit, l => l >= $"p_rn")).as("n_probe"),
        $"q_id", $"vec_id".as("n_id"),
        cosineFromParts(dotPreQ($"q_qemb", $"qemb"), $"q_n2", $"n2").as("cos"))
    val queries = c.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"qemb".as("q_qemb"), $"n2".as("q_n2"))
    val brute = c.join(broadcast(queries), $"vec_id" =!= $"q_id")
      .select(lit(0L).as("n_probe"), $"q_id", $"vec_id".as("n_id"),
        cosineFromParts(dotPreQ($"q_qemb", $"qemb"), $"q_n2", $"n2").as("cos"))
    // pinned: the top-k heap aggregate AND the candidate-volume count
    // both read the scored union without re-running the two joins
    val all = Lineage.counted(brute.unionByName(leveled)).df
    // per-(budget, query) top-k via the native bounded-heap aggregate
    // (map-side partial heaps, shuffle carries ≤ partitions·k rows per
    // group) — replaces a full rank of every scored candidate. The
    // struct key reproduces (cos desc, n_id asc) under Spark's double
    // TOTAL order including non-finite cosines (a zero-norm embedding
    // makes 0/0 = NaN): descending puts NaN first, then +Inf, then
    // finite desc — the ascending heap key gets that from a NaN-first
    // flag plus the negated cosine (negation alone would sort NaN last).
    // A NULL cosine (reachable if an embedding array ever carries null
    // elements — quantized_dot propagates them) gets nanf=2/nc=0 so it
    // sorts LAST, matching cos.desc's nulls-last; without the explicit
    // arm it would land in nanf=1 with nc=NULL, and ascending struct
    // order puts NULL first — i.e. a null score would rank BEST
    val topk = Ranks.groupTopK(
        all.select($"n_probe", $"q_id",
          when($"cos".isNull, lit(2))
            .when(isnan($"cos"), lit(0)).otherwise(lit(1)).as("nanf"),
          when($"cos".isNull || isnan($"cos"), lit(0.0))
            .otherwise(-$"cos").as("nc"),
          $"n_id"),
        k, "rnk", Seq($"n_probe", $"q_id"), struct($"nanf", $"nc", $"n_id"))
      .select($"n_probe", $"q_id", $"n_id")
    val truth = topk.filter($"n_probe" === 0L)
      .select($"q_id".as("t_q"), $"n_id".as("t_n"))
    val hits = topk.join(truth,
        $"q_id" === $"t_q" && $"n_id" === $"t_n", "left_semi")
      .groupBy($"n_probe").agg(count(lit(1)).as("n_hits"))
    val cand = all.groupBy($"n_probe").agg(count(lit(1)).as("n_candidates"))
    val sc = c.agg(count(lit(1)).as("nv"),
      sum(($"vec_id" < 10).cast("long")).as("nq"))
    cand.join(hits, Seq("n_probe"), "left")
      .crossJoin(broadcast(sc))
      .select($"n_probe", $"n_candidates",
        coalesce($"n_hits", lit(0L)).as("n_hits"),
        expr(s"coalesce(n_hits, 0L) * 1000000L div (nq * ${k}L)").as("recall_q6"),
        expr("n_candidates * 1000000L div (nq * (nv - 1))").as("cand_q6"))
  }

  /** `table` selects one of several deterministic seedings: table 0 is
    * the historical k-lowest-vec_ids pick (every committed plan and
    * oracle trajectory — byte-stable), table t > 0 seeds from the k
    * lowest by a salted md5 of the id — k pseudorandom, pairwise-
    * disjoint-in-expectation picks spread through the corpus, which is
    * what makes the multi-table union's Voronoi partitions INDEPENDENT
    * (the amplification math needs tables that fail on different
    * pairs, and 2-update Lloyd keeps most of its init's diversity).
    */
  private[graft] def lloydCentroids(spark: SparkSession, d: String,
      k: Int, updates: Int, table: Int = 0): Array[(Long, Seq[Long])] =
    graft.core.Bounded.collect(lloydTable(spark, d, (k, updates, table)),
        k.toLong, "lloydCentroids memo (k rows)")
      .map(r => (r.getLong(0), r.getSeq[Long](1)))

  /** The IVF coarse quantizer every IVF and k-means entry point defaults
    * to (lists, Lloyd updates): the centroid table the builds warm.
    */
  final val IvfLists = 8
  final val IvfUpdates = 2

  // (cid, cq) per (k, updates, table); table 0 keeps the historical memo
  // key so committed sweeps and warmed sessions keep hitting it
  private val lloydTable = shared("lloydCentroids", cache = false,
      (IvfLists, IvfUpdates, 0), (p: (Int, Int, Int)) =>
        Seq(p._1.toString, p._2.toString) ++ (if (p._3 > 0) Seq(s"t${p._3}") else Nil)) {
    case (spark, d, (k, updates, table)) =>
      import spark.implicits._
      lloydCentroidsUncached(spark, d, k, updates, table).toSeq.toDF("cid", "cq")
  }

  private def lloydCentroidsUncached(spark: SparkSession, d: String,
      k: Int, updates: Int, table: Int): Array[(Long, Seq[Long])] = {
    import spark.implicits._
    val c = corpusWithNorm(spark, d)
    // seeds = the k LOWEST vec_ids by rank (TakeOrderedAndProject — no
    // full sort), not the absolute predicate `vec_id < k`: rank-seeding
    // trains on any non-empty corpus regardless of id scheme (snowflake
    // ids, non-zero-based ranges), where the predicate form silently
    // returned zero centroids. Identical on dense 0-based ids.
    // Tables > 0 order by the salted hash instead (see lloydCentroids).
    val seedOrder =
      if (table == 0) Seq($"vec_id")
      else Seq(graft.functions.Hashing.md5Bits32(
        concat(lit(s"seed:$table:"), $"vec_id".cast("string")), 1), $"vec_id")
    var cents: Array[(Long, Seq[Long])] = graft.core.Bounded.collect(
        c.select($"vec_id", $"qemb").orderBy(seedOrder: _*).limit(k),
        k, "lloydCentroids seeds (k lowest vec_ids)")
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
    // no seed vectors (corpus empty after the null filter): nothing is
    // trainable — zero centroids, the same contract as an empty corpus
    // (consumers emit typed-empty option arrays). Without this, every
    // corpus row would carry a NULL cluster into the update aggregate
    // and blow its k·dims bound (the mixed-fixture DegenSweep find).
    if (cents.isEmpty) return cents
    val dims = cents(0)._2.length.toLong
    for (_ <- 1 to updates) {
      cents = lloydStep(c, cents, k * dims).toSeq.groupBy(_._1._1).map {
        case (cid, cells) => (cid, cells.sortBy(_._1._2).map(_._2.longValue))
      }.toArray
    }
    cents
  }

  /** One Lloyd update as one narrow fold over the assigned corpus:
    * (cluster, dim) → the re-quantized mean round(Σq / rows) (Spark's
    * `round(double)`: HALF_UP on the double's decimal form), the
    * semantics of the (cluster, dim) `sum / count(1)` aggregate it
    * replaces — a NULL cell counts its row and adds nothing, a cell
    * whose values are all NULL keeps a NULL mean, an overflowing sum
    * throws, and more than `bound` (k·dims) cells fail the bound.
    */
  private[graft] def lloydStep(c: DataFrame, cents: Array[(Long, Seq[Long])],
      bound: Long): Map[(Long, Int), java.lang.Long] = {
    import c.sparkSession.implicits._
    graft.core.Bounded.fold(assignTo(c, cents).select($"cluster", $"qemb"),
        new graft.core.Bounded.Sums[(Long, Int)](bound))({ (s, r) =>
        val cid = r.getLong(0)
        val q = r.getSeq[java.lang.Long](1)
        var i = 0
        while (i < q.length) { s.add((cid, i), q(i)); i += 1 }
        s
      }, _ merge _)
      .result("lloydCentroids update (k·dims rows)")
      .map { case (cell, (sum, rows)) =>
        cell -> (if (sum eq null) null else java.lang.Long.valueOf(
          java.math.BigDecimal.valueOf(sum.doubleValue / rows.toDouble)
            .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue.toLong))
      }
  }

  /** IVF ANN with a TRAINED coarse quantizer: the inverted lists come
    * from Lloyd's k-means (lloydCentroids) instead of annIvf's
    * first-k-vectors stub — the production IVF construction. Corpus
    * vectors are assigned to their exact-L2-nearest centroid; queries
    * probe the `nProbe` nearest lists and are scored exactly (quantized
    * cosine) against only those lists' members.
    *
    * Scale: training cost is `updates` one-job fold rounds (centroid
    * matrix driver-bounded); assignment and probe selection are scan-stage
    * argmins over literal centroids — no join; the candidate join hash
    * partitions on list id and touches ~nProbe/nLists of the corpus per
    * query. Whole pipeline (training trajectory included) is mirrored by
    * the DuckDB oracle.
    */
  def annIvfKmeans(spark: SparkSession, d: String, k: Int = 5,
      nLists: Int = IvfLists, nProbe: Int = 3, updates: Int = IvfUpdates): DataFrame = {
    import spark.implicits._
    val cents = lloydCentroids(spark, d, nLists, updates)
    val c = corpusWithNorm(spark, d)
    val ranked = c.select($"vec_id", $"qemb", $"n2",
      array_sort(centOptsArray(cents)).as("ds"))
    val assigned = ranked.select($"vec_id", $"qemb", $"n2",
      get($"ds", lit(0)).getField("cid").as("list_id"))
    val qp = ranked.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"qemb".as("q_qemb"), $"n2".as("q_n2"),
        explode(slice($"ds", 1, nProbe)).as("p"))
      .select($"q_id", $"q_qemb", $"q_n2", $"p".getField("cid").as("p_list"))
    val scored = assigned.join(broadcast(qp),
        $"list_id" === $"p_list" && $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("n_id"),
        cosineFromParts(dotPreQ($"q_qemb", $"qemb"), $"q_n2", $"n2").as("cos"))
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id".asc)))
      .filter($"rnk" <= k)
  }

  /** IVF-PQ: product quantization of RESIDUALS on top of the Lloyd-
    * trained IVF (annIvfKmeans) — the memory rung of the ANN ladder
    * (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
    * Search"): each corpus vector is stored as its coarse list id plus
    * `m` sub-space codes (here 4×8 = 4 bytes' worth instead of 64 dims),
    * and queries score candidates with ASYMMETRIC DISTANCE COMPUTATION —
    * the query stays exact, the candidate is its reconstruction
    * x̂ = c_list + u(codes), and both ⟨q, x̂⟩ and ‖x̂‖² decompose into
    * per-(list, sub, code) lookup tables of integer dot products.
    *
    * Exactness discipline: residuals are long differences of quantized
    * vectors, codebooks are Lloyd-updated with the same round(sum/count)
    * re-quantization as the coarse trainer, and every lookup entry is an
    * exact integer — the DuckDB oracle replays the ENTIRE trajectory
    * (coarse training, residual codebooks, encoding, ADC) and agrees on
    * every rank. Sub-space argmins drop the per-row ‖r_sub‖² term (a
    * constant shift that cannot change the argmin or its ties).
    *
    * Scale: training collects k·dims + m·ks·subDim longs — driver-
    * bounded like MLlib's KMeans; encoding is a scan-stage argmin over
    * literal codebooks; ADC scoring joins the nProbe candidate lists
    * against 10·m·ks-row broadcast tables. At corpus scale the point is
    * the candidate rows carry 4 SMALL INTS instead of 64 floats through
    * the shuffle — the PQ memory win is exactly a shuffle-width win.
    */
  def annIvfPq(spark: SparkSession, d: String, k: Int = 5,
      nLists: Int = IvfLists, nProbe: Int = 3, updates: Int = IvfUpdates,
      m: Int = 16, ks: Int = 16, pqUpdates: Int = 1): DataFrame = {
    import spark.implicits._
    val c = corpusWithNorm(spark, d)
    // empty corpus → no row to read dims from; m (⇒ subDim = 1) is an
    // inert stand-in: every downstream stage computes over zero rows
    val dims = graft.core.Scalars.headOption(c.select(size($"qemb")))
      .map(_.getInt(0)).getOrElse(m)
    val subDim = dims / m
    require(subDim * m == dims, s"m=$m must divide dims=$dims")
    val cents = lloydCentroids(spark, d, nLists, updates)
    val centLit = typedLit(cents.map { case (cid, q) => (cid, q) }.toMap)
    val ranked = c.select($"vec_id", $"qemb", $"n2",
      array_sort(centOptsArray(cents)).as("ds"))
    // memo-cached (released with the session): the training collects, the
    // encode and the candidate probe all fold over this one lineage. Not
    // a declared build: q91 is its one catalog consumer
    val assigned = graft.core.Memo(spark, cache = true,
        "ivfPqAssigned", d, nLists.toString, updates.toString) {
      ranked.select($"vec_id", $"qemb", $"n2",
          get($"ds", lit(0)).getField("cid").as("list_id"))
        .withColumn("resid", zip_with($"qemb", element_at(centLit, $"list_id"),
          (a, b) => a - b))
    }
    // ---- per-sub-space codebooks: seed with the ks lowest vec_ids' residual
    // sub-vectors, then Lloyd rounds with re-quantized means. ALL m
    // sub-spaces assign in ONE job per round (a broadcast codebook join +
    // min(struct) argmin), not m serial jobs — at m=16 the per-job
    // overhead of the loop form dominated the whole query ----
    def subSlice(col: Column, s: Int): Column = slice(col, s * subDim + 1, subDim)
    val subs = assigned.select($"vec_id", $"list_id",
      posexplode(array((0 until m).map(s => subSlice($"resid", s)): _*))
        .as(Seq("sub", "sv")))
    val seedRows = graft.core.Bounded.collect(
        assigned.select($"vec_id", $"resid").orderBy($"vec_id").limit(ks),
        ks, "annIvfPq codebook seeds (ks lowest vec_ids)")
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
    var books: Array[Array[(Long, Seq[Long])]] = Array.tabulate(m)(s =>
      seedRows.sortBy(_._1).map { case (id, res) =>
        (id, res.slice(s * subDim, (s + 1) * subDim)) })
    def bookDFof(bks: Array[Array[(Long, Seq[Long])]]): DataFrame =
      (for { s <- 0 until m; (code, u) <- bks(s) }
        yield (s, code, u, u.map(x => x * x).sum))
        .toSeq.toDF("sub", "code", "cw", "q2")
    // reduced distance: −2⟨r,u⟩ + ‖u‖² — ‖r‖² is a per-row constant that
    // cannot change the argmin or its (dist, code) ties
    // winner code per (vec_id, sub) as a flat-buffer lexMin argmin —
    // a real HashAggregate. The sub-vector does NOT ride the aggregate:
    // `first(sv)` is an array buffer, not UnsafeRow-mutable, and its
    // presence demoted the whole argmin to Sort + SortAggregate over
    // the N·m·ks candidate fan-out (ks× the rows the winner table has).
    // The one consumer that needs the winner's sub-vector — the trainer
    // update — re-attaches it with an (vec_id, sub)-keyed join against
    // the N·m-row subs projection instead (broadcast at toy scale,
    // id-keyed hash join at corpus scale); the encode pass never needed
    // sv at all. Winner rows and codebook sums are value-identical: the
    // (vec_id, sub) key is unique on both join sides.
    def assignCodes(bks: Array[Array[(Long, Seq[Long])]]): DataFrame =
      subs.join(broadcast(bookDFof(bks)), "sub")
        .select($"vec_id", $"list_id", $"sub",
          struct(($"q2" - lit(2L) * dotPreQ($"sv", $"cw")).as("rd"),
            $"code".as("code")).as("opt"))
        .groupBy($"vec_id", $"list_id", $"sub")
        .agg(lexMin($"opt").getField("code").as("code"))
    for (_ <- 1 to pqUpdates) {
      val bySub = graft.core.Bounded.collect(
        assignCodes(books)
          .join(subs.select($"vec_id", $"sub", $"sv"), Seq("vec_id", "sub"))
          .select($"sub", $"code", posexplode($"sv").as(Seq("i", "q")))
          .groupBy($"sub", $"code", $"i")
          .agg(round(sum($"q").cast("double") / count(lit(1))).cast("long").as("cq")),
        m.toLong * ks * subDim, "annIvfPq codebook update (m·ks·subDim rows)")
        .groupBy(_.getInt(0))
      // rebuild ALL m sub-spaces: on an empty corpus the update has no
      // rows and an absent sub must keep an empty book, not shrink the
      // array (books(s) below indexes 0 until m unconditionally)
      books = Array.tabulate(m)(s =>
        bySub.getOrElse(s, Array.empty[org.apache.spark.sql.Row])
          .groupBy(_.getLong(1)).map {
          case (code, rs) =>
            (code, rs.sortBy(_.getInt(2)).map(_.getLong(3)).toSeq)
        }.toArray)
    }
    // ---- encode: m codes per vector under the trained books ----
    val codes = assignCodes(books).select($"vec_id", $"list_id", $"sub", $"code")
    // ---- integer lookup tables (driver-computed, tiny) ----
    val cc2 = typedLit(cents.map { case (cid, q) => cid -> q.map(x => x * x).sum }.toMap)
    val luDF = (for {
      (cid, cv) <- cents
      s <- 0 until m
      (code, u) <- books(s)
    } yield {
      val cSub = cv.slice(s * subDim, (s + 1) * subDim)
      (cid, s, code,
        cSub.zip(u).map { case (a, b) => a * b }.sum, // ⟨c_sub, u⟩
        u.map(x => x * x).sum)                        // ‖u‖²
    }).toSeq.toDF("list_id", "sub", "code", "cu", "u2")
    val pqN2 = codes.join(broadcast(luDF), Seq("list_id", "sub", "code"))
      .groupBy($"vec_id", $"list_id")
      .agg(sum(lit(2L) * $"cu" + $"u2").as("uu"))
      .select($"vec_id", (element_at(cc2, $"list_id") + $"uu").as("pq_n2"))
    // ---- queries: exact side of ADC ----
    val qp = ranked.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"qemb".as("q_qemb"), $"n2".as("q_n2"),
        explode(slice($"ds", 1, nProbe)).as("p"))
      .select($"q_id", $"q_qemb", $"q_n2", $"p".getField("cid").as("p_list"))
      .withColumn("qdotc", dotPreQ($"q_qemb", element_at(centLit, $"p_list")))
    val bookDF = (for { s <- 0 until m; (code, u) <- books(s) }
      yield (s, code, u)).toSeq.toDF("sub", "code", "cw")
    val qdu = ranked.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"),
        posexplode(array((0 until m).map(s => subSlice($"qemb", s)): _*))
          .as(Seq("sub", "q_sv")))
      .join(broadcast(bookDF), "sub")
      .select($"q_id", $"sub", $"code", dotPreQ($"q_sv", $"cw").as("qu"))
    val candidates = assigned.select($"vec_id", $"list_id")
      .join(broadcast(qp), $"list_id" === $"p_list" && $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("n_id"), $"q_n2", $"qdotc")
    val quSum = candidates.select($"q_id", $"n_id")
      .join(codes.select($"vec_id".as("n_id"), $"sub", $"code"), "n_id")
      .join(broadcast(qdu), Seq("q_id", "sub", "code"))
      .groupBy($"q_id", $"n_id").agg(sum($"qu").as("qu_sum"))
    val out = candidates
      .join(quSum, Seq("q_id", "n_id"))
      .join(pqN2.select($"vec_id".as("n_id"), $"pq_n2"), "n_id")
      .select($"q_id", $"n_id",
        cosineFromParts($"qdotc" + $"qu_sum", $"q_n2", $"pq_n2").as("approx_cos"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"q_id").orderBy($"approx_cos".desc, $"n_id".asc)))
      .filter($"rnk" <= k)
    out
  }

  /** Distributed LINEAR-PROBE training over the embeddings — the "fit a
    * linear classifier on frozen embeddings" pass used to audit what a
    * representation encodes: a one-vs-rest batch perceptron for
    * `targetLabel`, trained for `epochs` synchronous epochs. Per epoch,
    * every vector's margin y·⟨w, x⟩ is a scan-stage integer dot against
    * the broadcast weight vector; misclassified vectors (margin ≤ 0)
    * contribute y·x to one update fold (`probeStep`: one job, no
    * exchange) whose 64-long partials merge on the driver (the
    * Lloyd-loop shape — bounded by dims·partitions, never by data).
    * Output: per-label positive prediction counts under the final
    * weights — the probe's confusion structure.
    *
    * Exactness: embeddings re-quantize to 1e3 (coarser than the cosine
    * family's 1e7 — weights are SUMS of ±x over epochs, and the margin
    * ⟨w, x⟩ must stay inside Int64: |w|≤epochs·n·1e3, dot ≤
    * 64·|w|·1e3 ≈ 1e11 at corpus scale). Every step is integer
    * arithmetic, so the whole trajectory — and the final confusion row —
    * replays bit-exactly in the DuckDB oracle's unrolled epoch CTEs.
    */
  def linearProbe(spark: SparkSession, d: String,
      targetLabel: Int = 0, epochs: Int = 3): DataFrame = {
    import spark.implicits._
    // memoized + cached (released with the session): `epochs` margin
    // scans plus the final confusion pass all ride one materialization —
    // a cache()/unpersist() pair here would drop the blocks before the
    // RETURNED plan executes and force an uncached final pass. Not a
    // declared build: q98 is its one catalog consumer
    val ex = graft.core.Memo(spark, cache = true,
        "probeBase", d, targetLabel.toString) {
      // null embeddings are not trainable examples (corpusWithNorm's
      // nulled-fixture contract); a null label can't be classed either
      embeddings(spark, d)
        .filter($"embedding".isNotNull && $"label".isNotNull)
        .select($"vec_id", $"label",
        transform($"embedding", x => round(x.cast("double") * lit(1000.0)).cast("long")).as("x3"),
        when($"label" === targetLabel, 1L).otherwise(-1L).as("y"))
    }
    val yx = ex.select($"y", $"x3") // planned once, folded every epoch
    // the first epoch's fold also reads dims (the first row's width), so
    // no probe job runs ahead of it
    val start = probeStep(yx, None)
    val dims = math.max(start.first, 0)
    var w: Seq[Long] = Seq.fill(dims)(0L)
    for (epoch <- 1 to epochs) {
      // margin of w=0 is 0 ⇒ epoch 1 updates on every vector (batch
      // perceptron convention; the first weight vector is the signed
      // class-sum direction)
      val upd = (if (epoch == 1) start else probeStep(yx, Some(w.toArray))).dw(dims)
      w = w.zipWithIndex.map { case (wi, i) => wi + upd.get(i).fold(0L)(_.longValue) }
    }
    ex.withColumn("pos", (dotPreQ($"x3", typedLit(w)) > 0L).cast("long"))
      .groupBy($"label")
      .agg(count(lit(1)).as("n"), sum($"pos").as("n_pred_pos"))
  }

  /** One perceptron epoch as one narrow fold over the probe base's
    * (y, x3) projection, with the semantics of the (dim) `sum(y * x)`
    * aggregate over margin-≤-0 vectors it replaces: the margin is y ·
    * `quantized_dot(x3, w)` (wrapping long math over the common prefix,
    * NULL if a cell of that prefix is, and a NULL margin drops the
    * vector), products and sums are ANSI (`multiplyExact` / `addExact`),
    * a dim whose cells are all NULL keeps a NULL sum, and `ProbeStep.dw`
    * applies the dims bound. `w = None` is the first epoch, w = 0: every
    * margin is 0, so a vector passes unless it holds a NULL, and the
    * state records the first row's width in partition order — what a
    * `head(1)` dims probe reads.
    */
  private[graft] def probeStep(yx: DataFrame, w: Option[Array[Long]]): ProbeStep = {
    val v = w.orNull
    graft.core.Bounded.fold(yx, new ProbeStep(w.fold(Long.MaxValue)(_.length.toLong)))(
      (s, r) => s.add(r.getLong(0), r.getSeq[java.lang.Long](1), v), _ merge _)
  }

  /** A perceptron epoch's fold state: y·x sums per dim (at most `bound`
    * dims), `first` = the first row's width (-1 before any row), and
    * `nullReach` = the largest first-NULL index over first-epoch rows
    * holding a NULL (-1 if none). The first epoch folds before dims is
    * known: a row whose first NULL sits at p would pass a margin over
    * dims ≤ p and then bring more than p dims, so p + 1 counts toward the
    * width the dims bound checks.
    */
  private[graft] final class ProbeStep(bound: Long) extends Serializable {
    private val sums = new graft.core.Bounded.Sums[Int](bound)
    var first = -1
    private var nullReach = -1

    def add(y: Long, x: scala.collection.Seq[java.lang.Long], w: Array[Long]): ProbeStep = {
      if (first < 0) first = x.length
      val n = if (w eq null) x.length else math.min(x.length, w.length)
      var dot = 0L
      var i = 0
      while (i < n && (x(i) ne null)) {
        if (w ne null) dot += x(i).longValue * w(i)
        i += 1
      }
      if ((w eq null) && i < n) nullReach = math.max(nullReach, i)
      if (i == n && Math.multiplyExact(y, dot) <= 0) {
        i = 0
        while (i < x.length) {
          val xi = x(i)
          sums.add(i, if (xi eq null) null
            else java.lang.Long.valueOf(Math.multiplyExact(y, xi.longValue)))
          i += 1
        }
      }
      this
    }

    def merge(o: ProbeStep): ProbeStep = {
      if (first < 0) first = o.first
      nullReach = math.max(nullReach, o.nullReach)
      sums.merge(o.sums)
      this
    }

    /** dim → Σ y·x, null where every cell was NULL — the aggregate's rows,
      * after the dims bound.
      */
    def dw(dims: Int): Map[Int, java.lang.Long] = {
      val what = "linearProbe gradient (dims rows)"
      val cells = sums.result(what)
      graft.core.Bounded.requireWithin(math.max(cells.size, nullReach + 1), dims.toLong, what)
      cells.map { case (i, (dw, _)) => i -> dw }
    }
  }

  /** q119: top principal direction of the (uncentered) embedding Gram
    * matrix by distributed power iteration — the covariance-free matvec
    * u = Xᵀ(Xv) that never materializes the d×d matrix, the shape PCA /
    * spectral probes take at 100 TB (X is the corpus, only two
    * corpus-wide aggregates per step).
    *
    * Quantized-exact trajectory (the k-means/linear-probe discipline):
    * embeddings quantize once to 1e7 longs; v lives as 1e6-scaled longs
    * broadcast as a plan literal; per-vector projections Xv are exact
    * long dots (native quantized_dot, ≤ 64·1e13); the d backprojection
    * sums run as exact DECIMAL(38,0)/HUGEINT integers (≤ ~1e27 at sf0.1,
    * bound ∝ rows — document 1e38 ceiling at ~1e16 rows). The ONE float
    * step per iteration — norm and rescale of a d-vector — happens on d
    * driver-held values with a fixed left-fold order and HALF_UP
    * rounding, so both engines replay it bit-identically.
    *
    * Scale: per step one narrow fold over the pinned corpus (`powerStep`:
    * one job, one stage, no exchange) — d·parts partial sums reach the
    * driver; nothing driver-side beyond the d-vector itself.
    */
  def powerIteration(spark: SparkSession, d: String, iters: Int = 4): DataFrame = {
    import spark.implicits._
    // memo-cached: every superstep folds this one quantized corpus. Not a
    // declared build: q119 is its one catalog consumer
    val ex = graft.core.Memo(spark, cache = true, "powerBase", d) {
      // null embeddings are not vectors (corpusWithNorm's contract)
      embeddings(spark, d).filter($"embedding".isNotNull)
        .select($"vec_id", quantize($"embedding").as("eq"))
    }
    val eqs = ex.select($"eq") // planned once, folded every step
    // the first step's fold also reads dims (the first row's width),
    // so no probe job runs ahead of it
    val start = powerStep(eqs, None)
    val dims = math.max(start.first, 0)
    var vq: Seq[Long] = Seq.fill(dims)(1000000L)
    // dims = 0 ⇔ empty corpus: the matvec would produce an empty u and
    // reduceLeft/0-norm would throw — the output below is already the
    // correct empty frame
    for (step <- 1 to iters if dims > 0) {
      val u2 = (if (step == 1) start else powerStep(eqs, Some(vq.toArray)))
        .u(dims)
      val ud = (0 until dims).map(i =>
        u2.getOrElse(i, java.math.BigDecimal.ZERO).doubleValue())
      val nrm = math.sqrt(ud.map(x => x * x).reduceLeft(_ + _))
      // an all-zero matvec (all-zero embedding column) has no direction;
      // keep the current iterate instead of dividing 0/0 into NaN
      if (nrm != 0.0)
        vq = ud.map(x => new java.math.BigDecimal(x / nrm * 1000000.0)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact())
    }
    spark.createDataset((0 until dims).map(i =>
        (i.toLong, vq(i), vq(i).toDouble / 1000000.0)))
      .toDF("dim", "vq", "v")
  }

  /** One power-iteration matvec u = Xᵀ(Xv) as one narrow fold over the
    * quantized corpus's (eq) projection, with the semantics of the (dim)
    * `sum(e · dv)` DECIMAL(38,0) aggregate it replaces: dv =
    * `quantized_dot(eq, v)` (wrapping long math over the common prefix,
    * NULL if a cell of that prefix is), a cell adds e·dv unless e or dv
    * is NULL, and `PowerStep.u` applies the checks. `vq = None` is the
    * first step, v = 1e6 on every dim: each row dots over its own width,
    * and the state records the first row's width in partition order —
    * what a `head(1)` dims probe reads. A row no wider than dims dots
    * the same prefix either way, and a wider one fails the dims bound
    * either way.
    */
  private[graft] def powerStep(eqs: DataFrame, vq: Option[Array[Long]]): PowerStep = {
    val v = vq.orNull
    graft.core.Bounded.fold(eqs, new PowerStep(vq.fold(Int.MaxValue)(_.length)))(
      (s, r) => s.add(r.getSeq[java.lang.Long](0), v), _ merge _)
  }

  /** A matvec's fold state: `sums(i)` = Σ e·dv over dim i's non-NULL
    * cells (null while there are none, kept for at most `cap` dims),
    * `width` = the widest row (the dims the aggregate would group),
    * `first` = the first row's width (-1 before any row).
    */
  private[graft] final class PowerStep(cap: Int) extends Serializable {
    var first = -1
    private var width = 0
    private var overflow = false
    private var sums = new Array[java.math.BigInteger](0)

    // Spark writes a DECIMAL(38,0) sum reaching 10^38 as NULL, partial
    // or final, and raises on it under ANSI; < 2^126 is always below
    private def acc(i: Int, p: java.math.BigInteger): Unit = {
      val t = if (sums(i) eq null) p else sums(i).add(p)
      if (t.bitLength >= 126 && t.abs.compareTo(PowerStep.Limit) >= 0) overflow = true
      sums(i) = t
    }

    def add(eq: scala.collection.Seq[java.lang.Long], v: Array[Long]): PowerStep = {
      val n = eq.length
      if (first < 0) first = n
      width = math.max(width, n)
      val m = if (v eq null) n else math.min(n, v.length)
      var dv = 0L
      var i = 0
      while (i < m && (eq(i) ne null)) {
        dv += eq(i).longValue * (if (v eq null) 1000000L else v(i))
        i += 1
      }
      if (i == m) {
        val keep = math.min(n, cap)
        if (sums.length < keep) sums = java.util.Arrays.copyOf(sums, keep)
        val bdv = java.math.BigInteger.valueOf(dv)
        i = 0
        while (i < keep) {
          if (eq(i) ne null) acc(i, java.math.BigInteger.valueOf(eq(i).longValue).multiply(bdv))
          i += 1
        }
      }
      this
    }

    def merge(o: PowerStep): PowerStep = {
      if (first < 0) first = o.first
      width = math.max(width, o.width)
      overflow ||= o.overflow
      if (sums.length < o.sums.length) sums = java.util.Arrays.copyOf(sums, o.sums.length)
      for (i <- o.sums.indices if o.sums(i) ne null) acc(i, o.sums(i))
      this
    }

    /** dim → u, null where every cell was NULL — the aggregate's rows,
      * after its ANSI overflow and the dims bound.
      */
    def u(dims: Int): Map[Int, java.math.BigDecimal] = {
      if (overflow) throw new ArithmeticException(
        "powerIteration matvec: DECIMAL(38,0) sum overflow")
      graft.core.Bounded.requireWithin(width, dims.toLong,
        "powerIteration matvec (dims rows)")
      (0 until width).map { i =>
        i -> (if (i < sums.length && (sums(i) ne null)) new java.math.BigDecimal(sums(i))
          else null)
      }.toMap
    }
  }

  private[graft] object PowerStep {
    val Limit: java.math.BigInteger = java.math.BigInteger.TEN.pow(38)
  }

  /** Per-label centroid-distance outlier flagging: each vector's cosine
    * to its label's centroid, with the `frac` least-similar vectors per
    * label flagged — the embedding-space mislabel/quality filter that
    * runs after labeling a corpus. Centroid components are re-quantized
    * longs (round(sum/count), the k-means update formula) so the cosine
    * is the exact-integer cosineFromParts contract.
    *
    * Scale: one (label, dim) aggregation builds the centroid matrix
    * (bounded by labels·dims → broadcast); scoring is a scan-stage
    * broadcast join; the per-label rank window is the only corpus
    * shuffle, on a key with labels-many partitions — at real skew the
    * rank threshold would come from an approx quantile of ccos instead.
    */
  // memo-shared: q66 and q78's cross-modal fusion both consume this
  // (centroid build + group rank run once per session)
  val centroidOutliers = shared("centroidOutliers", cache = true, 0.05) { (spark, d, frac) =>
    import spark.implicits._
    val cent = embeddings(spark, d)
      .select($"label", posexplode(quantize($"embedding")).as(Seq("i", "q")))
      .groupBy($"label", $"i")
      .agg(round(sum($"q").cast("double") / count(lit(1))).cast("long").as("cq"))
      .groupBy($"label")
      .agg(array_sort(collect_list(struct($"i", $"cq"))).as("ps"))
      .select($"label", transform($"ps", p => p.getField("cq")).as("cqemb"))
      .withColumn("cn2", dotPreQ($"cqemb", $"cqemb"))
    val sz = embeddings(spark, d).groupBy($"label").agg(count(lit(1)).as("n"))
    corpusWithNorm(spark, d)
      .join(embeddings(spark, d).select($"vec_id", $"label"), "vec_id")
      .join(broadcast(cent), "label")
      .select($"vec_id", $"label",
        cosineFromParts(dotPreQ($"qemb", $"cqemb"), $"n2", $"cn2").as("ccos"))
      .join(broadcast(sz), "label")
      // per-label rank via the two-phase group rank ((ccos, vec_id) is a
      // total order, so rank == row_number — the fast path) — a hot
      // label's population is never one sort partition
      .transform(df => Ranks.groupRowNumber(df, "rn",
        Seq($"label"), Seq($"ccos", $"vec_id")))
      .select($"vec_id", $"label", $"ccos",
        ($"rn" <= ceil(lit(frac) * $"n")).as("outlier"))
  }

  /** Cross-modal quality fusion: join the TEXT quality signals
    * (stop-word ratio) with the EMBEDDING-space signal (cosine to the
    * label centroid, per-label outlier flag) for every document that has
    * an embedding — the CLIP-score-style "do the modalities agree"
    * filter: keep docs that are neither embedding outliers nor
    * stop-word-free word salads.
    *
    * Scale: both inputs are one-pass derivations; the fusion is a single
    * hash join on the id (both sides already partition-friendly); the
    * decision column is scan-stage boolean math.
    */
  def crossModalQuality(spark: SparkSession, d: String,
      minStopRatio: Double = 0.01): DataFrame = {
    import spark.implicits._
    val text = Text.qualityScore(spark, d)
      .select($"doc_id", $"stop_ratio")
    val emb = centroidOutliers(spark, d)
      .select($"vec_id".as("doc_id"), $"label", $"ccos", $"outlier")
    text.join(emb, "doc_id")
      .select($"doc_id", $"label", $"stop_ratio", $"ccos", $"outlier",
        (!$"outlier" && $"stop_ratio" >= minStopRatio).as("keep"))
  }

  def annLsh(spark: SparkSession, d: String, k: Int = 5,
      nPlanes: Int = 6, nTables: Int = 8): DataFrame = {
    import spark.implicits._
    import graft.plans.HyperplaneSigs.hyperplaneSigs
    val c = corpusWithNorm(spark, d)
      .withColumn("sigs", hyperplaneSigs($"qemb", nTables, nPlanes))
    val buckets = c.select($"vec_id", $"qemb", $"n2",
      posexplode($"sigs").as(Seq("tbl", "sig")))
    val queries = buckets.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"qemb".as("q_qemb"), $"n2".as("q_n2"),
        $"tbl".as("q_tbl"), $"sig".as("q_sig"))
    // score IN the bucket-join stage, BEFORE the pair dedup: cos is a
    // pure function of the pair, so every collision copy carries the
    // same value and the dedup result is row-identical — but the
    // (q_id, n_id) exchange now moves one double instead of two 64-long
    // arrays (guide §2.3), and the dedup aggregates first(double) — a
    // mutable buffer — instead of first(array), which demoted the whole
    // dedup to Sort + SortAggregate over the candidate stream. A pair
    // colliding in t ≤ nTables tables re-computes the dot t times
    // in-stage; 64 multiply-adds per copy is far cheaper than sorting
    // and shuffling the payload arrays.
    val scored = buckets.join(broadcast(queries),
        $"tbl" === $"q_tbl" && $"sig" === $"q_sig" && $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("n_id"),
        cosineFromParts(dotPreQ($"q_qemb", $"qemb"), $"q_n2", $"n2").as("cos"))
      .dropDuplicates("q_id", "n_id") // a pair may collide in several tables
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id".asc)))
      .filter($"rnk" <= k)
  }

  /** q152: int8 quantization audit — the storage decision every
    * embedding pipeline makes (fp32 → int8 cuts the vector store 4×)
    * measured before it's taken: per-dimension min/max calibration over
    * the 1e7-quantized corpus, symmetric-free affine codes
    * `c = ⌊(v−min)·255/range⌋`, floor-chain reconstruction, and exact
    * per-label error mass (Σ|err|, max|err|, Σerr² in DECIMAL(38)) with
    * mean/RMSE as final single double steps. Everything before those two
    * divisions is integer arithmetic on the shared 1e7 quantization —
    * bit-identical cross-engine (the q119/q141 discipline).
    *
    * Scale: one posexplode pass + a 64-row per-dim aggregate broadcast
    * back onto the second pass; per-label results are ≤|labels| rows.
    * No windows, no driver collection.
    */
  def int8QuantAudit(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val ex = embeddings(spark, d)
      .select($"vec_id", $"label", posexplode(quantize($"embedding")).as(Seq("i", "e")))
    val dims = ex.groupBy($"i")
      .agg(min($"e").as("mn"), max($"e").as("mx"))
      .withColumn("rng", $"mx" - $"mn")
    val coded = ex.join(broadcast(dims), "i")
      .withColumn("code",
        when($"rng" === 0L, 0L)
          .otherwise(expr("((e - mn) * 255) div rng")))
      .withColumn("recon", $"mn" + expr("(code * rng) div 255"))
      .withColumn("err", $"e" - $"recon")
    coded.groupBy($"label")
      .agg(count(lit(1)).as("n_vals"),
        sum($"err").as("sum_err"),
        max($"err").as("max_err"),
        sum(($"err" * $"err").cast("decimal(38,0)")).as("sum_sq_err"))
      .select($"label".cast("long").as("label"), $"n_vals", $"sum_err", $"max_err",
        $"sum_sq_err".cast("double").as("sum_sq_err_d"),
        ($"sum_err".cast("double") / $"n_vals".cast("double")).as("mean_err"),
        sqrt($"sum_sq_err".cast("double") / $"n_vals".cast("double")).as("rmse"))
  }

  /** q155: hard-negative mining — for each anchor in the 5 % "eval:"
    * hash split, the top-`k` most-similar corpus vectors carrying a
    * DIFFERENT label: the contrastive-training data prep step (the
    * negatives that are hard precisely because they are near). The pair
    * generator is PARAMETERIZED (the q55/q63/q125 pattern):
    *
    *  - default = the Lloyd-trained IVF probe (memo-shared (8, 2)
    *    quantizer — the same training trajectory q55/q62/q67/q91/q125
    *    ride): corpus vectors live in their exact-L2-nearest list,
    *    anchors probe `nProbe` lists, candidates equi-join on the list
    *    id — hash-partitioned, sub-quadratic, no BroadcastNestedLoop.
    *  - `hardNegativesBrute` = the exact crossJoin rung (broadcast side
    *    grows with the corpus — declared-quadratic, the recall reference
    *    in DedupSimilaritySpec).
    *
    * Label filtering happens BEFORE the top-k window, so negatives are
    * ranked only against each other; cosines are the exact quantized
    * form, ties by vec_id — the whole default pipeline (training
    * included) is mirrored by the q155 DuckDB oracle.
    */
  def hardNegatives(spark: SparkSession, d: String, k: Int = 5,
      nLists: Int = IvfLists, nProbe: Int = 4, updates: Int = IvfUpdates,
      tables: Int = 1): DataFrame = {
    import spark.implicits._
    // one candidate stream per coarse quantizer (`tables` > 1 = the
    // annTables recall amplification; tables = 1 is byte-identical to
    // the pre-amplification plan — no Union, no dedup node)
    val cands = (0 until math.max(1, tables)).map { t =>
      val cents = lloydCentroids(spark, d, nLists, updates, t)
      val ranked = centRanked(
        corpusWithNorm(spark, d)
          .join(embeddings(spark, d).select($"vec_id", $"label"), "vec_id")
          .select($"vec_id", $"label", $"qemb", $"n2",
            evalAnchor($"vec_id").as("ev")),
        cents, nProbe)
      val corpusSide = ranked.filter(!$"ev")
        .select($"vec_id".as("neg_id"), $"label".as("neg_label"), $"qemb", $"n2",
          get($"ds", lit(0)).getField("cid").as("list_id"))
      val anchors = ranked.filter($"ev")
        .select($"vec_id".as("anchor_id"), $"label".as("anchor_label"),
          $"qemb".as("aq"), $"n2".as("an2"),
          explode(transform(slice($"ds", 1, nProbe), p => p.getField("cid")))
            .as("p_list"))
      corpusSide.join(anchors, $"list_id" === $"p_list")
    }
    // per-table top-k BEFORE the union (the denseIvf lemma: the pooled
    // top-k equals the top-k of the union of per-table top-ks, scores
    // being table-independent) — the cross-table exchange carries
    // |anchors|·k·R ranked rows, not every candidate; duplicates are
    // value-identical so the dedup is stable
    if (tables <= 1) topKNegatives(cands.head, k)
    else {
      val pooled = cands.map(j => topKNegatives(j, k).drop("rank"))
        .reduce(_ unionByName _)
        .dropDuplicates("anchor_id", "neg_id")
      pooled.withColumn("rank", row_number().over(
          Window.partitionBy($"anchor_id").orderBy($"cos".desc, $"neg_id".asc))
          .cast("long"))
        .filter($"rank" <= k)
    }
  }

  /** `hardNegatives` with the deployment blocking dial applied
    * (semanticDedupScaled's contract): nLists = max(8, N/targetCell)
    * holds the mean Voronoi cell constant, so per-anchor candidates are
    * ∝ targetCell·nProbe and TOTAL work is linear in the corpus even
    * with the anchor set growing ∝ N (the 5 % hash split) — the
    * fixed-list form's total is ∝ N²·nProbe/nLists (the round-14
    * catalog sweep's 6.1× at 10× and growing). Below the knee
    * (N/targetCell ≤ 8) it is row-identical to the oracle-checked q155
    * form (spec law).
    */
  def hardNegativesScaled(spark: SparkSession, d: String, k: Int = 5,
      targetCell: Int = 256, nProbe: Int = 4, updates: Int = IvfUpdates): DataFrame = {
    val n = corpusWithNorm(spark, d).count()
    val nLists = math.max(8L, n / targetCell).toInt
    hardNegatives(spark, d, k, nLists, nProbe, updates,
      annTables(spark, nLists))
  }

  /** The exact rung: every anchor against the whole corpus. */
  def hardNegativesBrute(spark: SparkSession, d: String, k: Int = 5): DataFrame = {
    import spark.implicits._
    val emb = corpusWithNorm(spark, d)
      .join(embeddings(spark, d).select($"vec_id", $"label"), "vec_id")
      .withColumn("ev", evalAnchor($"vec_id"))
    val anchors = emb.filter($"ev")
      .select($"vec_id".as("anchor_id"), $"label".as("anchor_label"),
        $"qemb".as("aq"), $"n2".as("an2"))
    topKNegatives(
      emb.filter(!$"ev")
        .select($"vec_id".as("neg_id"), $"label".as("neg_label"), $"qemb", $"n2")
        .crossJoin(broadcast(anchors)), k)
  }

  private def topKNegatives(pairs: DataFrame, k: Int): DataFrame = {
    import pairs.sparkSession.implicits._
    pairs
      .filter($"neg_label" =!= $"anchor_label")
      .select($"anchor_id", $"anchor_label", $"neg_id", $"neg_label",
        cosineFromParts(dotPreQ($"aq", $"qemb"), $"an2", $"n2").as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"anchor_id").orderBy($"cos".desc, $"neg_id".asc))
        .cast("long"))
      .filter($"rank" <= k)
  }

  /** The 5 % "eval:" md5 split on vec_id — the same bucket that carves
    * the retrieval family's query workload (vec_id ≡ doc_id).
    */
  private def evalAnchor(vecId: Column): Column =
    pmod(graft.functions.Hashing.md5Bits32(
      concat(lit("eval:"), vecId.cast("string")), 1), lit(100L)) < 5

  /** q166: per-DIMENSION embedding health — the collapsed/dead-dimension
    * audit q141 (per-label) doesn't see: for each of the 64 coordinates,
    * exact quantized sum, extremes, zero count, and the two-moment
    * sample variance (the q137 identity in DECIMAL(38,0), so nothing
    * cancels catastrophically). A dimension whose variance collapses to
    * ~0 carries no information (anisotropy / dead-ReLU symptom); one
    * whose mean drifts from 0 skews every cosine.
    *
    * Scale: posexplode fans the corpus into dims·n rows in the scan
    * stage, then ONE hash aggregate onto exactly |dims| groups —
    * map-side combine collapses each partition to 64 partial rows before
    * the shuffle; output is 64 rows regardless of corpus size.
    */
  def dimHealth(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dec38 = "decimal(38,0)"
    embeddings(spark, d)
      .select(posexplode(quantize($"embedding")).as(Seq("i", "q")))
      .groupBy($"i")
      .agg(count(lit(1)).as("n"),
        sum($"q".cast(dec38)).as("sum_q"),
        sum(($"q".cast("decimal(19,0)") * $"q".cast("decimal(19,0)"))
          .cast(dec38)).as("sumsq"),
        min($"q").as("min_q"), max($"q").as("max_q"),
        sum(($"q" === 0L).cast("long")).as("n_zero"))
      .select($"i".cast("long").as("dim"), $"n",
        $"sum_q".cast("long").as("sum_q"), $"min_q", $"max_q", $"n_zero",
        ($"sum_q".cast("double") / $"n".cast("double") / 1e7).as("mean"),
        when($"n" >= 2L,
          (($"n".cast(dec38) * $"sumsq" - $"sum_q" * $"sum_q").cast("double")
            / ($"n" * ($"n" - 1L)).cast("double") / 1e14)).as("var_samp"))
  }

  /** q203: Fisher class-separation audit — per label, the between-class
    * mean square (n·‖µ_ℓ − µ‖² spread over its n, i.e. ‖µ_ℓ − µ‖²) and
    * the within-class scatter (Σ‖x − µ_ℓ‖²), plus their quantized
    * ratio. This is the one-table answer to "are these labels even
    * separable in this embedding space" — read BEFORE training the
    * probe q98 fits (a label with Fisher ratio ≈ 0 will never probe
    * above chance, whatever the classifier).
    *
    * Exactness discipline: everything until the final divisions is
    * integer — per-(label, dim) quantized sums, centroid differences
    * as the cross-multiplied d = s_ℓi·n − s_i·n_ℓ (exact longs),
    * squares summed in DECIMAL(38,0)/HUGEINT, the within scatter via
    * the Σ‖x‖² − ‖S_ℓ‖²/n_ℓ identity — then an identical short chain
    * of double ops in both engines (the q129 rule).
    *
    * Scale: two aggregates over the exploded (vector, dim) stream
    * (map-side combined to |labels|·dims and dims cells), one scalar
    * count, one |labels|-row join — nothing quadratic, nothing
    * collected beyond the row count.
    */
  def fisherSeparation(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dec38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val ex = embeddings(spark, d).select($"label", quantize($"embedding").as("q"))
    val n = ex.count()
    // the (label, dim) sums ride the shared labelDimSums memo (q58/q206)
    val lds = labelDimSums(spark, d)
    val sli = lds.select($"label", $"i", $"s".as("s_li"))
    val si = sli.groupBy($"i").agg(sum($"s_li").as("s_i"))
    val nl = lds.groupBy($"label").agg(max($"cnt").as("n_l"))
    val dotl = ex.select($"label", dotPreQ($"q", $"q").as("dd"))
      .groupBy($"label").agg(sum($"dd".cast(dec38)).as("sumdot_l"))
    val dExpr = $"s_li" * lit(n) - $"s_i" * $"n_l"
    val agg = sli.join(broadcast(si), "i").join(broadcast(nl), "label")
      .select($"label", $"n_l",
        (dExpr.cast(dec38) * dExpr.cast(dec38)).as("dsq"),
        ($"s_li".cast(dec38) * $"s_li".cast(dec38)).as("ssq"))
      .groupBy($"label", $"n_l")
      .agg(sum($"dsq").as("b_num"), sum($"ssq").as("ssq_l"))
    agg.join(dotl, "label")
      .select($"label", $"n_l".as("n"),
        ($"b_num".cast("double")
          / ($"n_l" * lit(n) * lit(n)).cast("double")).as("between_ms"),
        ($"sumdot_l".cast("double")
          - ($"ssq_l".cast("double") / $"n_l".cast("double"))).as("within_ss"))
      .select($"label", $"n", $"between_ms", $"within_ss",
        when($"within_ss" > 0.0,
          round((($"between_ms" / $"within_ss") * $"n".cast("double"))
            * lit(1000000.0)).cast("long"))
          .otherwise(lit(0L)).as("fisher_q6"))
  }

  /** q206: label-centroid similarity matrix — the pairwise cosine
    * between class centroids, the "which labels are semantically
    * adjacent" audit read next to q203's Fisher gate (two labels with
    * centroid cosine ≈ 1 will confuse any classifier however separable
    * each is from the rest) and before designing label-balanced
    * mixtures.
    *
    * Exactness via the centroid-cosine identity: cos(µ_a, µ_b) =
    * cos(S_a, S_b) — the 1/n_ℓ scalings cancel in the cosine — so the
    * whole computation is exact integer math on per-label SUM vectors
    * (one map-side-combined (label, dim) aggregate over the quantized
    * corpus), dots and norms in DECIMAL(38,0)/HUGEINT, then the one
    * canonical double chain dot/(√n2a·√n2b) (cosineFromParts
    * parenthesization, the cross-engine contract).
    *
    * Scale: the only corpus-sized work is the (label, dim) sum — the
    * pairwise stage runs on |labels|·dims ≈ 640 rows and emits
    * |labels|²/2 rows, both corpus-independent.
    */
  /** q210: nearest-neighbor label purity — per label, the fraction of
    * vectors whose single nearest neighbor (exact quantized cosine,
    * ties → smallest id) shares the label. THE standard intrinsic
    * embedding-quality audit (1-NN accuracy): read next to q203's
    * Fisher gate before trusting the embedding column for semantic
    * dedup (q55) or ANN retrieval (q39/q91) — high Fisher with low 1-NN
    * purity means the classes separate only on average, not pointwise.
    *
    * Shape: the exact quadratic score join (the q14/q25 rung — native
    * QuantizedDot, memo-shared corpusWithNorm) feeding a struct-max
    * argmax per query (ONE aggregate, no window, no join-back), then a
    * broadcast label join and a |labels|-row aggregate. The quadratic
    * is the declared exact rung; at 100 TB the candidate generator is
    * the IVF probe machinery (q39/q91/q192) feeding the same argmax.
    */
  def knnLabelPurity(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val lbl = embeddings(spark, d).select($"vec_id", $"label")
    val c = corpusWithNorm(spark, d)
    val a = c.select($"vec_id".as("x"), $"qemb".as("qa"), $"n2".as("na"))
    val b = c.select($"vec_id".as("y"), $"qemb".as("qb"), $"n2".as("nb"))
    val nn = a.join(b, $"x" =!= $"y")
      .select($"x",
        struct(cosineFromParts(dotPreQ($"qa", $"qb"), $"na", $"nb").as("cos"),
          (-$"y").as("ny")).as("s"))
      .groupBy($"x").agg(lexMax($"s").as("m"))
      .select($"x", (-$"m.ny").as("nn_id"))
    // both label joins are id-keyed shuffle joins: the label table is
    // corpus-sized, never broadcast
    nn.join(lbl.select($"vec_id".as("x"), $"label"), "x")
      .join(lbl.select($"vec_id".as("nn_id"), $"label".as("nn_label")), "nn_id")
      .groupBy($"label").agg(
        count(lit(1)).as("n_vecs"),
        sum(when($"nn_label" === $"label", 1L).otherwise(0L)).as("nn_same"))
      .select($"label", $"n_vecs", $"nn_same",
        round($"nn_same".cast("double") / $"n_vecs".cast("double")
          * lit(1000000.0)).cast("long").as("purity_q6"))
  }

  /** q229: two-NN intrinsic-dimensionality estimate (Facco et al. 2017,
    * "Estimating the intrinsic dimension of datasets by a minimal
    * neighborhood information"): for each vector take the distances to
    * its two nearest neighbors, μ = r2/r1; the MLE of the manifold
    * dimension is d = n / Σ ln μ. THE capacity audit for the embedding
    * column read next to q203 (Fisher) and q210 (1-NN purity): a
    * 64-dim column whose data lives on a ~9-dim manifold quantizes
    * (q152) and PQ-compresses (q91) with far less recall loss than its
    * nominal width suggests, and IVF list counts (q39/q185) should
    * scale with the INTRINSIC dimension, not the ambient one.
    *
    * Exactness: squared L2 distances come from the quantized-integer
    * identity d² = n2(a) + n2(b) − 2·dot(a,b) — exact longs, so the
    * two-NN selection is engine/partitioning-independent; each point's
    * ln μ = ½·ln(d2²/d1²) is quantized to 1e6 BEFORE the global sum, so
    * the estimator folds an exact integer sum (no FP summation-order
    * leak) and the final d̂ is two IEEE ops off two exact integers.
    * Coincident points (d1² = 0, where μ is undefined) are excluded and
    * reported via n_used; ties at the 2-NN boundary don't matter — only
    * the distance VALUES enter, and min-2 over a multiset is unique.
    *
    * Shape: the exact quadratic pair scan (the q14/q25/q210 rung —
    * native QuantizedDot over the memo-shared corpusWithNorm) feeding
    * the native bounded-heap `Ranks.groupTopK` (k=2 — map-side heaps,
    * ≤ 2·|partitions| rows per group cross the wire, no window), one
    * per-point pivot, one 1-row global aggregate. The quadratic is the
    * declared exact rung; at 100 TB the candidate generator is the IVF
    * probe machinery (q39/q91/q192) feeding the same two-NN heap.
    */
  def twoNNDim(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val c = corpusWithNorm(spark, d)
    val a = c.select($"vec_id".as("x"), $"qemb".as("qa"), $"n2".as("na"))
    val b = c.select($"vec_id".as("y"), $"qemb".as("qb"), $"n2".as("nb"))
    val pairs = a.join(b, $"x" =!= $"y")
      .select($"x", struct(
        ($"na" + $"nb" - lit(2L) * dotPreQ($"qa", $"qb")).as("dsq"),
        $"y".as("ny")).as("s"))
    val two = graft.operators.Ranks
      .groupTopK(pairs, 2, "rk", Seq($"x"), $"s")
      .groupBy($"x").agg(
        max(when($"rk" === 1, $"dsq")).as("d1"),
        max(when($"rk" === 2, $"dsq")).as("d2"))
    val pt = two.select(
      when($"d1" > 0L,
        round(lit(0.5) * log($"d2".cast("double") / $"d1".cast("double"))
          * lit(1000000.0)).cast("long")).as("lnmu_q6"))
    pt.agg(
        count(lit(1)).as("n_pts"),
        sum(when($"lnmu_q6".isNotNull, 1L).otherwise(0L)).as("n_used"),
        coalesce(sum($"lnmu_q6"), lit(0L)).as("sum_lnmu_q6"))
      .select($"n_pts", $"n_used", $"sum_lnmu_q6",
        when($"sum_lnmu_q6" > 0L,
          round($"n_used".cast("double") * lit(1000000.0)
            / $"sum_lnmu_q6".cast("double") * lit(1000.0)).cast("long"))
          .otherwise(lit(0L)).as("id_q3"))
  }

  /** q235: semantic stationarity audit — split the corpus at the vec_id
    * midpoint into an EARLY and a LATE half (ids track ingest order, so
    * this is "first half of the crawl vs second") and report: the
    * cosine between the two half-centroids, and each half's internal
    * coherence (mean member-to-own-centroid cosine). The topic-drift
    * gauge a mixture designer reads before assuming one epoch of the
    * corpus is exchangeable with the next: centroid_cos well below both
    * coherence columns means the crawl's subject matter MOVED mid-
    * corpus, and q54/q101 mixture weights fitted on the early half
    * mis-weight the late one. Complements q206 (label-conditioned
    * centroids) with an unconditioned temporal cut.
    *
    * Exactness: half centroids are exact integer dim-sums (the
    * labelDimSums/q206 discipline — cosine is scale-free so the 1/n
    * never happens); member cosines quantize to 1e6 BEFORE the per-half
    * sum (exact integer fold, no FP order leak); products go through
    * decimal(38,0) (dot terms v·s reach ~1e19 at corpus scale — past
    * long, inside dec38).
    *
    * Shape: ONE posexplode pass → (half, i) dim sums, collected to a
    * 2-row (half, centroid ARRAY) table; member dots are then a
    * per-row dec38 array fold against the broadcast centroid — the
    * round-12 form re-exploded the corpus a second time and shuffled
    * a corpus-sized (vec_id, half) aggregate for them (round-13 fold,
    * VERDICT item 6). Nothing corpus-sized shuffles; the half boundary
    * is a 1-row min/max broadcast, never a rank.
    */
  def centroidDriftAudit(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dec38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    // exact dec38 dot of two long arrays (terms reach ~1e19 — past
    // long); children are attributes, so the interpreted HOF evaluates
    // each input once (Hashing.scala collapse-barrier rule)
    def dotDec(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x.cast(dec38) * y.cast(dec38)),
        lit(0L).cast(dec38), (acc, t) => acc + t)
    val c = corpusWithNorm(spark, d)
    val mm = c.agg(min($"vec_id").as("mn"), max($"vec_id").as("mx"))
    val withHalf = c.crossJoin(broadcast(mm))
      .select($"vec_id", $"qemb", $"n2",
        ($"vec_id" <= expr("(mn + mx) div 2")).as("early"))
    val sli = withHalf
      .select($"early", posexplode($"qemb").as(Seq("i", "v")))
      .groupBy($"early", $"i")
      .agg(sum($"v").as("s"), count(lit(1)).as("cnt"))
    // 2 rows: (half, dim-ordered centroid-sum array, Σs², n)
    val centH = sli.groupBy($"early")
      .agg(transform(array_sort(collect_list(struct($"i", $"s"))),
          e => e.getField("s")).as("cent"),
        sum($"s".cast(dec38) * $"s".cast(dec38)).as("n2s"),
        max($"cnt").as("n_vecs"))
    // centroid-vs-centroid: ONE dot over the two 2-row-table arrays
    val cc = centH.filter($"early")
      .select($"cent".as("ca"), $"n2s".as("na"), $"n_vecs".as("n_early"))
      .crossJoin(broadcast(centH.filter(!$"early")
        .select($"cent".as("cb"), $"n2s".as("nb"), $"n_vecs".as("n_late"))))
      .select($"n_early", $"n_late",
        round(dotDec($"ca", $"cb").cast("double")
          / (sqrt($"na".cast("double")) * sqrt($"nb".cast("double")))
          * lit(1000000.0)).cast("long").as("centroid_cos_q6"))
    // member-to-own-centroid coherence, quantized before the sum —
    // a per-row array fold against the broadcast centroid, no explode
    val disp = withHalf
      .join(broadcast(centH.select($"early", $"cent", $"n2s")), "early")
      .select($"early",
        round(dotDec($"qemb", $"cent").cast("double")
          / (sqrt($"n2".cast("double")) * sqrt($"n2s".cast("double")))
          * lit(1000000.0)).cast("long").as("eq"))
      .groupBy($"early").agg(sum($"eq").as("se"), count(lit(1)).as("n"))
      .select($"early",
        round($"se".cast("double") / $"n".cast("double")).cast("long").as("coh"))
    cc.crossJoin(broadcast(disp.filter($"early")
        .select($"coh".as("coherence_early_q6"))))
      .crossJoin(broadcast(disp.filter(!$"early")
        .select($"coh".as("coherence_late_q6"))))
      .select($"n_early", $"n_late", $"centroid_cos_q6",
        $"coherence_early_q6", $"coherence_late_q6")
  }

  /** q240: axis-aligned isotropy audit — per-dimension variance shares
    * of the embedding column and their participation ratio
    * PR = (Σv)²/Σv², the LINEAR effective-dimension count (PR = d for
    * perfectly isotropic axes, → 1 when one axis dominates). The
    * complement of q229's two-NN INTRINSIC dimension: q229 reads the
    * manifold, this reads the coordinate system — low PR with high
    * intrinsic dim says the representation wastes width (whiten before
    * PQ/IVF: q91's codebooks and q39's lists key on exactly these
    * axes), and `top_dim`/`top_share_q9` name the dominating axis (the
    * classic "rogue dimension" pathology of contrastive encoders).
    *
    * Exactness: per-dim variance numerators v_i = n·Σx² − (Σx)² are
    * exact decimal(38,0); v_i² would overflow ANY fixed width at corpus
    * scale, so shares quantize to 1e9 integers FIRST (one exact-int
    * division each — correctly rounded, engine-identical) and the PR
    * folds their exact integer squares: PR = 1e18/Σ sq_i². Ties on the
    * top axis break to the smallest dim via struct-max.
    *
    * Shape: one posexplode pass → a dims-row aggregate; everything
    * after is arithmetic on ≤ dims rows. Nothing corpus-sized moves.
    */
  def axisIsotropy(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dec38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val ex = embeddings(spark, d)
      .select(posexplode(quantize($"embedding")).as(Seq("i", "v")))
    val st = ex.groupBy($"i").agg(count(lit(1)).as("n"), sum($"v").as("sx"),
      sum(($"v".cast(dec38) * $"v".cast(dec38))).as("sxx"))
    val vr = st.select($"i", $"n",
      ($"n".cast(dec38) * $"sxx" - $"sx".cast(dec38) * $"sx".cast(dec38))
        .as("vnum"))
    val tot = vr.agg(sum($"vnum").as("sv"), count(lit(1)).as("dims"))
    val sh = vr.crossJoin(broadcast(tot))
      .select($"i", $"n", $"dims", $"vnum",
        round($"vnum".cast("double") / $"sv".cast("double")
          * lit(1000000000.0)).cast("long").as("sq"))
    sh.agg(max($"n").as("n_vecs"), max($"dims").as("dims"),
        lexMax(struct($"vnum", (-$"i").as("ni"), $"sq")).as("top"),
        sum($"sq".cast(dec38) * $"sq".cast(dec38)).as("ssq"))
      .select($"n_vecs", $"dims",
        (-$"top.ni").cast("long").as("top_dim"),
        $"top.sq".as("top_share_q9"),
        round(lit(1.0e18) / $"ssq".cast("double") * lit(1000.0))
          .cast("long").as("pr_q3"))
  }

  /** q252: Davies–Bouldin clustering-quality panel over the memo-shared
    * Lloyd (8, 2) quantizer — per cluster: population, within-cluster
    * scatter s_i (mean member distance to its centroid), the WORST
    * neighbor j maximizing (s_i + s_j)/d_ij, and that DB component
    * (≫ 1e6 = the pair overlaps more than it separates). The quality
    * gate for every consumer of this quantizer: q39/q67/q91's IVF lists
    * and q185's balance audit all assume the clusters mean something —
    * a high-DB pair is two lists splitting one real cluster (probes
    * must straddle them, q192's recall curve pays), and the named worst
    * neighbor says which pair to merge or retrain.
    *
    * Exactness: member distances round(√dist²) quantize per member
    * BEFORE the scatter mean (exact integer fold, the q235 discipline);
    * centroid gaps d_ij = round(√Σ(cᵃ−cᵇ)²) come from the exact integer
    * centroid coordinates the trainer publishes; each DB ratio is ONE
    * division quantized to 1e6, then an integer struct-max (ties → the
    * lower-id neighbor). Zero-gap pairs (coincident centroids) drop
    * identically in both engines.
    *
    * Shape: the assignment is the memo-shared scan (built once for
    * q62/q67/q91/q185); scatters are ONE k-row aggregate; the k²
    * pair table is driver-literal (k·dims centroid matrix — the
    * MLlib-collect shape, Bounded-guarded upstream).
    */
  def daviesBouldin(spark: SparkSession, d: String,
      k: Int = IvfLists, iters: Int = IvfUpdates + 1): DataFrame = {
    import spark.implicits._
    val sc = kmeansAssign(spark, d, k, iters)
      .select($"cluster", round(sqrt($"dist2".cast("double")))
        .cast("long").as("md"))
      .groupBy($"cluster").agg(count(lit(1)).as("n_members"),
        sum($"md").as("smd"))
      .select($"cluster", $"n_members",
        round($"smd".cast("double") / $"n_members".cast("double"))
          .cast("long").as("scatter"))
    val cents = lloydCentroids(spark, d, k, iters - 1).sortBy(_._1)
    val gaps = for {
      (ci, qi) <- cents; (cj, qj) <- cents if ci != cj
    } yield {
      val d2 = qi.zip(qj).map { case (a, b) =>
        BigInt(a - b) * BigInt(a - b) }.sum
      (ci, cj, math.round(math.sqrt(d2.toDouble)))
    }
    val gapDf = gaps.toSeq.toDF("cluster", "j", "dij").filter($"dij" > 0L)
    sc.join(broadcast(gapDf), "cluster")
      .join(broadcast(sc.select($"cluster".as("j"),
        $"scatter".as("sj"))), "j")
      .select($"cluster", $"n_members", $"scatter",
        struct(round(($"scatter" + $"sj").cast("double")
            / $"dij".cast("double") * lit(1000000.0)).cast("long")
            .as("ratio"),
          (-$"j").as("nj")).as("p"))
      .groupBy($"cluster", $"n_members", $"scatter")
      .agg(lexMax($"p").as("w"))
      .select($"cluster", $"n_members", $"scatter",
        (-$"w.nj").as("worst_neighbor"), $"w.ratio".as("db_q6"))
  }

  /** q215: lexical-vs-semantic near-dup agreement — the pair sets of
    * the exact Jaccard detector (q16, τ=0.5) and the embedding-cosine
    * detector (q25, cos ≥ 0.4) compared as sets (vec_id ≡ doc_id):
    * counts of each, their intersection and union, and the Jaccard
    * agreement of the two DETECTORS. The threshold-tuning audit a
    * curation run reads before trusting either modality alone:
    * lexical-only mass is paraphrase-blind templating, embedding-only
    * mass is surface-divergent semantic dup — each is the other
    * detector's blind spot, quantified.
    *
    * Shape: both pair tables are memo-shared (built once per session);
    * the agreement is one full-outer join on the (x, y) pair key + one
    * scalar aggregate — pair-table-sized, never corpus-sized.
    */
  def dupModalityAgreement(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val lex = graft.operators.Dedup.jaccardPairs(spark, d)
      .select($"x", $"y", lit(1L).as("in_lex"))
    val emb = embeddingNearDup(spark, d)
      .select($"x", $"y", lit(1L).as("in_emb"))
    lex.join(emb, Seq("x", "y"), "full_outer")
      .agg(count(lit(1)).as("n_union"),
        sum(coalesce($"in_lex", lit(0L))).as("n_lex"),
        sum(coalesce($"in_emb", lit(0L))).as("n_emb"),
        sum(when($"in_lex".isNotNull && $"in_emb".isNotNull, 1L)
          .otherwise(0L)).as("n_both"))
      .select($"n_lex", $"n_emb", $"n_both", $"n_union",
        round($"n_both".cast("double") / $"n_union".cast("double")
          * lit(1000000.0)).cast("long").as("agreement_q6"))
  }

  def centroidSimilarity(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dec38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val sli = labelDimSums(spark, d).select($"label", $"i", $"s")
    val n2 = sli.groupBy($"label")
      .agg(sum($"s".cast(dec38) * $"s".cast(dec38)).as("n2"))
    val dots = sli.as("a").join(sli.as("b"),
        $"a.i" === $"b.i" && $"a.label" < $"b.label")
      .groupBy($"a.label".as("label_a"), $"b.label".as("label_b"))
      .agg(sum($"a.s".cast(dec38) * $"b.s".cast(dec38)).as("dot"))
    dots
      .join(n2.select($"label".as("label_a"), $"n2".as("n2a")), "label_a")
      .join(n2.select($"label".as("label_b"), $"n2".as("n2b")), "label_b")
      .select($"label_a", $"label_b",
        round(($"dot".cast("double")
          / (sqrt($"n2a".cast("double")) * sqrt($"n2b".cast("double"))))
          * lit(1000000.0)).cast("long").as("cos_q6"))
  }
}
