package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Lineage.CutOps
import graft.plans.LexExtreme.{lexMax, lexMin}
import graft.core.Tables._
import graft.functions.Hashing._
import graft.functions.TextFunctions._

/** Deduplication operators over `documents` — exact, n-gram-Jaccard,
  * MinHash+LSH, and SimHash. The driver's corpus carries 25 planted
  * near-duplicate pairs (Jaccard ≥ 0.5, background ≤ ~0.1), so 0.5 is the
  * operating threshold throughout.
  *
  * Scale ladder (each step trades exactness for join size):
  *  1. exact: hash-groupBy on a content fingerprint — one shuffle,
  *     linear, the 100 TB default.
  *  2. exact Jaccard: shingle-inverted-index self-join — complete but
  *     candidate count grows with shared-shingle frequency; the oracle
  *     gold standard at test SFs.
  *  3. MinHash+LSH: candidates only where a band collides (cost tracks
  *     duplicate density, not corpus²), then exact Jaccard re-check on
  *     the candidates — the 100 TB near-dup path.
  *  4. SimHash: 64-bit sketch + pigeonhole banding for Hamming ≤ 3.
  */
object Dedup extends graft.core.Memo.Owner {

  /** The near-dup Jaccard threshold every dedup entry point defaults to,
    * and the one the shared pair and label builds are warmed at.
    */
  final val DupThreshold = 0.5

  /** Exact dedup by content hash (A7 `distinct(0)` shape,
    * dataset_preparation/MBoxParser.java:79-80): canonical doc = min id
    * per fingerprint; emits groups with their duplicate count.
    */
  def exact(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    documents(spark, d)
      .select($"doc_id", md5Fingerprint($"text").as("fp"))
      .groupBy($"fp")
      .agg(min($"doc_id").as("canonical_id"), count(lit(1)).as("n_docs"))
  }

  /** Paragraph-granularity exact dedup (the RefinedWeb/Falcon pass that
    * removes repeated boilerplate blocks WITHOUT discarding whole
    * documents; expressed over fixed non-overlapping `chunkSize`-token
    * chunks because the synthetic corpus has no paragraph breaks —
    * `Text.chunk` with stride = size is the paragraph splitter). Every
    * chunk is content-fingerprinted and only the globally FIRST
    * occurrence of each fingerprint survives (first = least
    * (doc_id, chunk_id) — deterministic, partition-independent); each
    * document then reports its chunk count, how many of its chunks were
    * dropped as cross-corpus duplicates, and the token mass it retains.
    *
    * Scale: one shuffle on the 128-bit fingerprint (uniform keys); the
    * first-occurrence rule is a window rank whose partitions are the
    * duplicate families (size = dup multiplicity, never the corpus);
    * one (doc_id) re-aggregate. Nothing is quadratic, nothing is
    * collected — the same ladder rung as `exact`, one level finer.
    */
  def chunkDedup(spark: SparkSession, d: String, chunkSize: Int = 16): DataFrame = {
    import spark.implicits._
    val ch = Text.chunk(spark, d, chunkSize, chunkSize)
      .select($"doc_id", $"chunk_id", md5($"chunk_text").as("fp"), $"n_tokens")
    val rk = ch.withColumn("rn", row_number().over(
      Window.partitionBy($"fp").orderBy($"doc_id", $"chunk_id")))
    rk.groupBy($"doc_id").agg(
      count(lit(1)).as("n_chunks"),
      sum(when($"rn" > 1, lit(1L)).otherwise(lit(0L))).as("n_dup_chunks"),
      sum(when($"rn" === 1, $"n_tokens").otherwise(lit(0L))).as("n_tokens_kept"),
      (sum(when($"rn" === 1, $"n_tokens").otherwise(lit(0L))).cast("double") /
        sum($"n_tokens").cast("double")).as("retained_frac"))
  }

  /** (doc_id, distinct-3-gram-shingle ARRAY) — the ONE tokenize+shingle
    * pass of the whole dedup family, memo-cached: the exploded
    * inverted-index view (docShingles) and the MinHash signatures
    * (minhashCandidates) both derive from this cached column with cheap
    * scan-stage ops (explode / the native sig fold). Before round 11
    * each derivation re-ran the tokenize+shingle expression chain —
    * two full passes over every document per session.
    */
  private[graft] val docShingleArrays = shared("docShingleArrays", cache = true) { (spark, d) =>
    import spark.implicits._
    documents(spark, d)
      .select($"doc_id", shingles(tokens($"text"), 3).as("shs"))
  }

  /** (doc_id, n, hs, col) — the SLIM verify companion of
    * `docShingleArrays`: `hs` maps each distinct string shingle to its
    * xxhash64 (8 bytes vs ~25-byte shingle strings), `n` = |shs|, and
    * `col` = n − |distinct hs| counts within-doc hash collisions
    * (0 on every real corpus; carried so the verify filter can price
    * collisions exactly instead of assuming them away). Built once per
    * session from the cached array table — one scan-stage transform.
    *
    * Why it exists (round-14 q109 adjudication): at 10× sf0.1 the
    * shingle-array table outgrows the broadcast threshold, so the
    * prefix join's exact-verify joins become shuffle joins whose pair
    * rows each CARRY a full string-shingle array — a multi-GiB shuffle
    * to keep 0.08 % of candidates. Intersecting 8-byte hashes first
    * shrinks that payload ~3×, and the admitted set (≈ the true pair
    * set) is small enough that the exact string re-check is a
    * broadcast-side join. Measured at 10×: 47.3 → 24.4 s cold,
    * 19.9 → 3.7 s warm, identical output.
    */
  private[graft] def docShingleHashArrays(spark: SparkSession, d: String): DataFrame =
    // not a declared build: q109's verify stage is its one catalog consumer
    graft.core.Memo(spark, cache = true, "docShingleHashArrays", d) {
      import spark.implicits._
      docShingleArrays(spark, d)
        .select($"doc_id", size($"shs").cast("long").as("n"),
          transform($"shs", s => xxhash64(s)).as("hs"))
        .withColumn("col", $"n" - size(array_distinct($"hs")).cast("long"))
    }

  /** (doc_id, shingle) inverted-index rows — memo-cached once per
    * session+dir: q15/q16/q32/q42 all fold over this same lineage, most
    * of them in self-joins that read it twice — the cache keeps those
    * reads in-memory scans instead of repeated explodes + shuffles.
    */
  private[graft] val docShingles = shared("docShingles", cache = true) { (spark, d) =>
    import spark.implicits._
    docShingleArrays(spark, d).select($"doc_id", explode($"shs").as("s"))
  }

  /** DIRECTED containment near-dup pairs (Broder's asymmetric Jaccard,
    * C(x→y) = |Sx ∩ Sy| / |Sx|): x is "contained in" y when ≥
    * `num`/`den` of x's 3-gram shingles also appear in y — the pair
    * class symmetric Jaccard (q16) structurally misses: a short document
    * embedded verbatim in a long one has high containment but LOW
    * Jaccard (the union is dominated by the long doc), and MinHash
    * banding on Jaccard misses it for the same reason. The threshold is
    * the exact integer comparison den·|∩| ≥ num·|Sx| (no FP compare);
    * the reported containment double is one division.
    *
    * Scale: same inverted-index self-join rung as `jaccardPairs`, riding
    * the memo-shared shingle table; the candidate blow-up driver is
    * corpus-frequent shingles, and the same df-ceiling mitigation as
    * `maxDupRuns.maxSeedDf` applies (`maxSeedDf` here too: containment
    * evidence lives in RARE shared shingles; boilerplate grams only
    * inflate the join). Directed output: both (x→y) and (y→x) can
    * appear, each judged against its own left-side size.
    */
  def containmentPairs(spark: SparkSession, d: String,
      num: Int = 9, den: Int = 10,
      maxSeedDf: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val sh = docShingles(spark, d)
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("sz"))
    val seeds = maxSeedDf match {
      case Some(ceil) =>
        val df = sh.groupBy($"s").agg(count(lit(1)).as("df"))
        sh.join(df.filter($"df" <= ceil).select($"s"), "s")
      case None => sh
    }
    seeds.as("a").join(seeds.as("b"),
        $"a.s" === $"b.s" && $"a.doc_id" =!= $"b.doc_id")
      .groupBy($"a.doc_id".as("x"), $"b.doc_id".as("y"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.withColumnRenamed("doc_id", "x"), "x")
      .filter($"n_shared" * den >= $"sz" * num)
      .select($"x", $"y", $"n_shared",
        ($"n_shared".cast("double") / $"sz".cast("double")).as("containment"))
  }

  /** Exact 3-gram-shingle Jaccard near-dup pairs (threshold 0.5) via the
    * inverted-index self-join: |∩| from the shingle join, |∪| from
    * per-doc distinct-shingle counts. jac is an exact int ratio — no FP
    * rounding concerns.
    */
  def jaccardPairs(spark: SparkSession, d: String,
      threshold: Double = DupThreshold): DataFrame =
    jaccardPairsBuild(spark, d, threshold)

  private val jaccardPairsBuild = shared("jaccardPairs", cache = true, DupThreshold) {
    (spark, d, threshold) =>
      import spark.implicits._
      val sh = docShingles(spark, d)
      val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("sz"))
      val inter = sh.as("a").join(sh.as("b"),
          $"a.s" === $"b.s" && $"a.doc_id" < $"b.doc_id")
        .groupBy($"a.doc_id".as("x"), $"b.doc_id".as("y"))
        .agg(count(lit(1)).as("inter"))
      inter
        .join(sizes.withColumnRenamed("doc_id", "x").withColumnRenamed("sz", "szx"), "x")
        .join(sizes.withColumnRenamed("doc_id", "y").withColumnRenamed("sz", "szy"), "y")
        .select($"x", $"y",
          ($"inter".cast("double") / ($"szx" + $"szy" - $"inter")).as("jac"))
        .filter($"jac" >= threshold)
  }

  /** PREFIX-FILTERED exact Jaccard join (the SSJoin/PPJoin candidate
    * rule of Chaudhuri et al. 2006 / Xiao et al. 2008) — the scale path
    * for EXACT set-similarity joins, completing the dedup ladder's
    * middle: q16's full inverted-index join is complete but explodes on
    * corpus-frequent shingles; MinHash-LSH (q15) bounds candidates but
    * is probabilistic. Prefix filtering keeps BOTH properties: under one
    * global token order (rarest first — ascending (df, s)), a pair with
    * J ≥ t MUST share a token inside both documents' first
    * |S| − ⌈t·|S|⌉ + 1 tokens (prefix-filter theorem), so joining only
    * prefix rows loses no true pair, and the prefixes concentrate on
    * RARE shingles — the frequent-shingle blow-up never enters the join.
    * An exact re-check scores candidates, so output ≡ `jaccardPairs`
    * row-for-row (they share the q16 oracle; equality + candidate-volume
    * reduction asserted in DedupSimilaritySpec).
    *
    * Scale: the df table is the shingle vocabulary — it GROWS with the
    * corpus (unlike the word vocabulary's Heaps curve), so the df join
    * is deliberately UN-HINTED: AQE broadcasts it while it fits and
    * falls back to a shuffle join on the shingle key at corpus scale
    * (round-11 fix — a forced broadcast here was a driver OOM at 100×).
    * Prefix selection is one per-doc window; the candidate join touches
    * ~|S|/2 rows per doc, each among the rarest — candidate volume
    * tracks duplicate density like LSH, with a completeness PROOF
    * instead of a banding probability.
    */
  def jaccardPrefixJoin(spark: SparkSession, d: String,
      threshold: Double = DupThreshold): DataFrame = {
    import spark.implicits._
    val arr = docShingleArrays(spark, d)
    val passing = prefixAdmitted(spark, d, threshold)
    // verify stage 2 — exact string re-check on the admitted set (≈ the
    // true pair set, 0.08 % of candidates at 10×): one array_intersect
    // per admitted pair off the cached string-array table; the admitted
    // side is small so AQE broadcasts it and arr never shuffles
    // (shingles are distinct per doc, so |array_intersect| ≡ the
    // exploded join's pair count — output ≡ jaccardPairs row-for-row).
    // The two joins read the arr cache twice (x and y sides) so that no
    // array payload crosses a shuffle.
    passing
      .join(arr.select($"doc_id".as("x"), $"shs".as("shx")), "x")
      .join(arr.select($"doc_id".as("y"), $"shs".as("shy")), "y")
      .select($"x", $"y",
        size(array_intersect($"shx", $"shy")).cast("long").as("inter"),
        size($"shx").cast("long").as("szx"),
        size($"shy").cast("long").as("szy"))
      .select($"x", $"y",
        ($"inter".cast("double") / ($"szx" + $"szy" - $"inter")).as("jac"))
      .filter($"jac" >= threshold)
  }

  /** Stage-1 admission: prefix-filter candidates cut by the lossless
    * slim-hash Jaccard upper bound.
    */
  private def prefixAdmitted(spark: SparkSession, d: String,
      threshold: Double): DataFrame = {
    import spark.implicits._
    val cand = prefixCandidates(spark, d, threshold)
    // verify stage 1 — SLIM hash admission (round-14 rewrite): the
    // round-13 form joined the full string-array table onto both
    // candidate sides, which is free while that table broadcasts but
    // becomes a multi-GiB array-carrying shuffle once it outgrows the
    // broadcast threshold (measured at 10× sf0.1 — see
    // docShingleHashArrays). Intersect 8-byte xxhash64 arrays instead,
    // admitting on a PROVABLE UPPER BOUND of the exact Jaccard:
    //   I_exact ≤ I_hash + min(col_x, col_y)
    // (a common string always lands in the hash intersection; the only
    // losses are two DISTINCT common strings sharing one hash, and each
    // such pair is a within-x AND within-y collision, so the losses are
    // ≤ min of the per-doc collision counts — both 0 on real corpora).
    // jac(I) = I/(nx+ny−I) is increasing in I, so admitting on
    // jac(I_ub) ≥ t keeps every true pair: stage 1 is LOSSLESS and the
    // prefix theorem's recall-1 guarantee survives hashing.
    val slim = docShingleHashArrays(spark, d)
    val iub = size(array_intersect($"hx", $"hy")).cast("long") +
      least($"colx", $"coly")
    val passing = cand
      .join(slim.select($"doc_id".as("x"), $"hs".as("hx"),
        $"n".as("nx"), $"col".as("colx")), "x")
      .join(slim.select($"doc_id".as("y"), $"hs".as("hy"),
        $"n".as("ny"), $"col".as("coly")), "y")
      .select($"x", $"y", iub.as("iub"), $"nx", $"ny")
      .filter($"iub".cast("double") / ($"nx" + $"ny" - $"iub")
        >= lit(threshold) - lit(1e-9))
      .select($"x", $"y")
    passing
  }

  /** The prefix-filter candidate pairs (x < y): rows whose within-doc
    * rarity rank falls inside the |S| − ⌈t·|S|⌉ + 1 prefix, self-joined
    * on the shared shingle, pruned by the PPJoin POSITIONAL filter
    * (Xiao et al. 2008): a match at ranks (rₐ, r_b) of docs sized
    * (nₐ, n_b) bounds the overlap by min(rₐ, r_b) + min(nₐ−rₐ, n_b−r_b)
    * — commons split cleanly around the match because both docs sort
    * by the SAME global (df, s) order — and J ≥ t needs overlap ≥
    * ⌈t/(1+t)·(nₐ+n_b)⌉. Any single failing match row already proves
    * the pair can't reach t, so filtering before `distinct` is
    * lossless (it only keeps pairs some match row still supports).
    * The ε guard keeps FP rounding of the α threshold from ever
    * rounding UP past the exact boundary (too-small α is safe — the
    * verify stage is exact). Exposed for the spec's candidate-volume
    * comparison against the full inverted-index join.
    */
  private[graft] def prefixCandidates(spark: SparkSession, d: String,
      threshold: Double = DupThreshold): DataFrame =
    // result memo (round-14, the q109 watch item's other half): the
    // pair table is 2 longs/row and ∝ candidate volume (linear in the
    // corpus by the per-copy construction), while its lineage — explode
    // + df join + per-doc rank window + self-join — is the expensive
    // stage and was re-derived by every caller (the spec's volume
    // comparison, the verify stage, repeat invocations). Caching it
    // also cuts the verify plan's references to the shingle-array
    // cache from three to two, the round-13 storage-pressure finding.
    // Not a declared build: q109 is its one catalog consumer.
    graft.core.Memo(spark, cache = true,
        "prefixCandidates", d, threshold.toString) {
      prefixCandidatesUncached(spark, d, threshold)
    }

  private def prefixCandidatesUncached(spark: SparkSession, d: String,
      threshold: Double): DataFrame = {
    import spark.implicits._
    // n = |S| read off the cached array column — the round-12 form
    // computed it as a second (unordered-frame) window exec over the
    // exploded index, an extra per-doc pass the rank sort then repeated
    val sh = docShingleArrays(spark, d)
      .select($"doc_id", size($"shs").cast("long").as("n"),
        explode($"shs").as("s"))
    val dfT = sh.groupBy($"s").agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy($"doc_id")
    // un-hinted: the shingle vocabulary is corpus-growing (see scaladoc)
    val prefix = sh.join(dfT, "s")
      .withColumn("r", row_number().over(byDoc.orderBy($"df", $"s")))
      .filter($"r" <= $"n" - ceil($"n" * threshold).cast("long") + 1L)
      .select($"doc_id", $"s", $"n", $"r")
    val alphaFrac = threshold / (1.0 + threshold)
    prefix.as("a").join(prefix.as("b"),
        $"a.s" === $"b.s" && $"a.doc_id" < $"b.doc_id")
      .filter(least($"a.r", $"b.r")
          + least($"a.n" - $"a.r", $"b.n" - $"b.r")
        >= ceil(($"a.n" + $"b.n").cast("double") * lit(alphaFrac)
          - lit(1e-9)))
      .select($"a.doc_id".as("x"), $"b.doc_id".as("y")).distinct()
  }

  /** MinHash + LSH near-dup detection: k=64 hashes, 32 bands × 2 rows
    * (P[collide] = 1-(1-j²)³² ⇒ ~0.9999 at j = 0.5, ~0.08 at j = 0.05),
    * exact-Jaccard re-check on the candidates. Same output shape as
    * jaccardPairs; banding miss probability is ~1e-4 per true pair at
    * j = 0.5, so the q15 oracle IS the exact pair set (row-identical at
    * every tested SF) and recall is additionally asserted against
    * jaccardPairs in DedupSimilaritySpec.
    */
  /** The band-collision candidate stage of MinHash-LSH, exposed as its
    * own operator: (x, y) doc pairs sharing ≥ 1 of the 32 two-row bands.
    * Candidate volume is the quantity that must track duplicate density
    * (not corpus²) for the 100 TB story — DedupSimilaritySpec's scale
    * rehearsal measures exactly this.
    */
  /** (doc_id, sig) MinHash signatures, memo-cached. The cache is also a
    * collapse barrier: band extraction must reference the materialized
    * signature column, not re-derive it per band lambda (interpreted
    * HOFs re-evaluate non-attribute children — Hashing.scala).
    */
  private[graft] val minhashSignatures = shared("minhashSig", cache = true) { (spark, d) =>
    import spark.implicits._
    docShingleArrays(spark, d)
      .select($"doc_id", minhashSignature($"shs", 64).as("sig"))
  }

  def minhashCandidates(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val sig = minhashSignatures(spark, d)
    val bands = sig.select($"doc_id", posexplode(bandKeys($"sig", 64, 2)))
      .select($"doc_id", $"pos".as("band"), $"col".as("key"))
    bands.as("a").join(bands.as("b"),
        $"a.band" === $"b.band" && $"a.key" === $"b.key" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("x"), $"b.doc_id".as("y"))
      .distinct()
  }

  // result memo: the pair set is tiny (∝ dup density) and feeds q15,
  // the cluster query and the curation pipeline — build it once
  val minhashLsh = shared("minhashLshPairs", cache = true, DupThreshold) { (spark, d, threshold) =>
    import spark.implicits._
    val candidates = minhashCandidates(spark, d)
    // exact re-check restricted to candidates
    val sh = docShingles(spark, d)
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("sz"))
    val inter = candidates
      .join(sh.as("a"), $"x" === $"a.doc_id")
      .join(sh.as("b"), $"y" === $"b.doc_id" && $"a.s" === $"b.s")
      .groupBy($"x", $"y").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "x").withColumnRenamed("sz", "szx"), "x")
      .join(sizes.withColumnRenamed("doc_id", "y").withColumnRenamed("sz", "szy"), "y")
      .select($"x", $"y",
        ($"inter".cast("double") / ($"szx" + $"szy" - $"inter")).as("jac"))
      .filter($"jac" >= threshold)
  }

  /** The ONE function object used as the default pair generator across the
    * whole dedup ladder. Default arguments compile to a fresh eta-expansion
    * (a distinct lambda class) PER CALL SITE, so `dedupClusters`' default
    * and `canonicalDocs`' default were different objects with different
    * class names — which silently defeated the `dedupLabels` memo for a
    * full round (label propagation ran twice per session). Sharing this
    * single `val` makes reference equality (`eq`) hold at every default
    * site, and `dedupLabels` memoizes exactly when it holds.
    */
  val MinhashLshGen: (SparkSession, String, Double) => DataFrame =
    minhashLsh(_, _, _)

  /** Near-dup CLUSTERS from the pair graph: connected components by
    * iterative min-label propagation (each doc adopts the smallest doc_id
    * reachable through near-dup edges), then one canonical doc per
    * cluster — what a dedup pipeline actually emits. Fixed iteration
    * count (like the PageRank loop, SURVEY §2.9); near-dup components
    * are tiny (pairs/triangles), so 5 supersteps are exhaustive at any
    * corpus size where near-dup chains stay shallow.
    *
    * The pair GENERATOR is a parameter: default `minhashLsh` — the
    * band-bucketed scale path whose candidate volume tracks duplicate
    * density, with the exact-Jaccard re-check keeping precision exact —
    * so the composite rides the same ladder it documents. Pass
    * `jaccardPairs` for the exact/oracle-gold form.
    *
    * Scale: the iteration runs ONLY over the edge-induced subgraph —
    * docs with no near-dup edge are singleton clusters by definition and
    * are appended with one anti-join at the end. Label-propagation state
    * is therefore O(docs-with-edges) (duplicate density × corpus), not
    * O(corpus): per superstep one small shuffle join labels⋈edges + a
    * min-agg, join strategy left to the planner/AQE — never
    * force-broadcast (round-1 defect: driver OOM at corpus scale).
    */
  def dedupClusters(spark: SparkSession, d: String,
      threshold: Double = DupThreshold, iterations: Int = DupIterations,
      pairGen: (SparkSession, String, Double) => DataFrame = MinhashLshGen): DataFrame = {
    import spark.implicits._
    dedupLabels(spark, d, threshold, iterations, pairGen)
      .groupBy($"label".as("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
  }

  /** The per-document cluster-label ASSIGNMENT behind `dedupClusters` —
    * (doc_id, label) for every doc: propagated min-labels on the
    * edge-induced subgraph, identity labels for singletons (one
    * anti-join). Exposed so downstream consumers (cluster counting,
    * canonical-doc survivorship) share one propagation.
    */
  def dedupLabels(spark: SparkSession, d: String,
      threshold: Double = DupThreshold, iterations: Int = DupIterations,
      pairGen: (SparkSession, String, Double) => DataFrame = MinhashLshGen): DataFrame =
    // one propagation per (dir, params) per session: cluster counting
    // (q32) and survivorship (q82) share the superstep work.
    // cache=false — the loop's localCheckpoints already materialize it.
    // Memoize ONLY under the shared default generator: a cache key must
    // never derive from closure identity (class names differ per default-
    // arg call site; and two closures of the same class capturing
    // different state would collide to one key and serve a stale result).
    if (pairGen eq MinhashLshGen) dedupLabelsBuild(spark, d, (threshold, iterations))
    else dedupLabelsUncached(spark, d, threshold, iterations, pairGen)

  /** The superstep count the fixed-loop label entry points default to. */
  final val DupIterations = 5

  private val dedupLabelsBuild = shared("dedupLabels", cache = false,
      (DupThreshold, DupIterations),
      (p: (Double, Int)) => Seq(p._1.toString, p._2.toString, "minhashLsh")) {
    case (spark, d, (threshold, iterations)) =>
      dedupLabelsUncached(spark, d, threshold, iterations, MinhashLshGen)
  }

  private def dedupLabelsUncached(spark: SparkSession, d: String,
      threshold: Double, iterations: Int,
      pairGen: (SparkSession, String, Double) => DataFrame): DataFrame = {
    val loop = new LabelLoop(spark, d, threshold, pairGen)
    var labels = loop.initial
    for (_ <- 1 to iterations) labels = loop.step(labels)
    loop.finish(labels)
  }

  /** What both min-label propagations share: the pinned edges, the
    * initial labels, the superstep and the singleton union. Only their
    * stop rules differ.
    */
  private final class LabelLoop(spark: SparkSession, d: String,
      threshold: Double, pairGen: (SparkSession, String, Double) => DataFrame) {
    import spark.implicits._
    private val pairs = pairGen(spark, d, threshold).select($"x", $"y")
    // undirected edges, both directions — partitioned ONCE on the
    // superstep join key (the pageRank `prob` discipline, guide §2.4):
    // the cached HashPartitioning(y) is reused by every round's
    // edges⋈labels join, so the static side never re-shuffles; without
    // it each superstep exchanges the whole edge table again
    // (iterations × |edges| shuffle bytes at corpus scale)
    private val edges = pairs.union(pairs.select($"y".as("x"), $"x".as("y")))
      .repartition($"y").cache()
    // the subgraph's nodes: every doc that appears in some near-dup pair
    val initial: DataFrame = edges.select($"x".as("doc_id")).distinct()
      .select($"doc_id", $"doc_id".as("label"))
    // shrink the iteration-state partitioning (see Graph.pageRank): the
    // label table is |dup docs| rows, far below one row per shuffle
    // partition at test scale
    private val statePartitions = math.max(1, math.min(
      spark.sparkContext.defaultParallelism, (initial.count() / 10000L).toInt + 1))

    /** Every node takes the least label among its own and its neighbors'. */
    def step(labels: DataFrame): DataFrame = {
      val neighborMin = edges.join(labels, $"y" === $"doc_id")
        .groupBy($"x").agg(min($"label").as("nlabel"))
      labels.join(neighborMin, $"doc_id" === $"x", "left")
        .select($"doc_id",
          least($"label", coalesce($"nlabel", $"label")).as("label"))
        .coalesce(statePartitions)
        .cutLineage()
    }

    def finish(labels: DataFrame): DataFrame = {
      edges.unpersist() // labels are localCheckpointed — lineage is cut
      withSingletons(spark, d, labels)
    }
  }

  // singletons: docs untouched by any pair — one anti-join, no iteration
  private def withSingletons(spark: SparkSession, d: String,
      labels: DataFrame): DataFrame = {
    import spark.implicits._
    labels.union(documents(spark, d).select($"doc_id")
      .join(labels.select($"doc_id"), Seq("doc_id"), "left_anti")
      .select($"doc_id", $"doc_id".as("label")))
  }

  /** Dedup SURVIVORSHIP: one canonical document per near-dup cluster —
    * keep the most complete copy (longest text by n_chars, ties to the
    * smallest doc_id), the standard "keep longest" rule a dedup pipeline
    * applies when it materializes the deduplicated corpus. Output:
    * (cluster_id, canonical_doc, cluster_size).
    *
    * Scale: rides `dedupLabels` (labels ∝ corpus, propagation state ∝
    * dup density); the argmax is ONE map-side-combinable aggregate —
    * min(struct(−n_chars, doc_id)) — not a rank window: no per-cluster
    * sort, one shuffle on label.
    */
  def canonicalDocs(spark: SparkSession, d: String,
      threshold: Double = DupThreshold, iterations: Int = DupIterations,
      pairGen: (SparkSession, String, Double) => DataFrame = MinhashLshGen): DataFrame = {
    import spark.implicits._
    dedupLabels(spark, d, threshold, iterations, pairGen)
      .join(documents(spark, d).select($"doc_id", $"n_chars"), "doc_id")
      .groupBy($"label".as("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        lexMin(struct((-$"n_chars").as("neg_chars"), $"doc_id".as("id"))).as("best"))
      .select($"cluster_id", $"best.id".as("canonical_doc"), $"cluster_size")
  }

  /** `dedupLabels` with a CONVERGENCE stop instead of a fixed superstep
    * count: propagate until no label changes (or `maxIterations`). Min-
    * label propagation moves a component's minimum one hop per superstep,
    * so the fixed-count form silently under-merges any component whose
    * diameter exceeds the count — fine for planted pair/triple dups
    * (diameter ≤ 2, why q32's 5-step contract holds), wrong for the
    * chained near-dup runs a real crawl produces (A≈B≈C≈…, each pair
    * above threshold, ends far apart). This form is the 100 TB-safe
    * default: DedupSimilaritySpec proves it on a 21-deep chain where the
    * 5-step loop leaves the far end unmerged. The change count is one
    * |labels|-row aggregate per superstep (the pageRankConverged shape).
    */
  def dedupLabelsConverged(spark: SparkSession, d: String,
      threshold: Double = DupThreshold, maxIterations: Int = 50,
      pairGen: (SparkSession, String, Double) => DataFrame = MinhashLshGen): DataFrame =
    // memoized like dedupLabels, and only under the shared default
    // generator (same closure-identity rule); not a declared build: q86
    // is its one catalog consumer (q132's split reads the star labels)
    if (pairGen eq MinhashLshGen)
      graft.core.Memo(spark, cache = false, "dedupLabelsConverged", d,
        threshold.toString, maxIterations.toString, "minhashLsh") {
        dedupLabelsConvergedUncached(spark, d, threshold, maxIterations, pairGen)
      }
    else dedupLabelsConvergedUncached(spark, d, threshold, maxIterations, pairGen)

  private def dedupLabelsConvergedUncached(spark: SparkSession, d: String,
      threshold: Double, maxIterations: Int,
      pairGen: (SparkSession, String, Double) => DataFrame): DataFrame = {
    import spark.implicits._
    val loop = new LabelLoop(spark, d, threshold, pairGen)
    var labels = loop.initial
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIterations) {
      val next = loop.step(labels)
      changed = next.select($"doc_id", $"label".as("next_label"))
        .join(labels.select($"doc_id", $"label".as("prev_label")), "doc_id")
        .filter($"next_label" =!= $"prev_label").count()
      labels = next
      it += 1
    }
    loop.finish(labels)
  }

  /** `dedupClusters` on the converged propagation — true connected
    * components regardless of chain depth. Same output contract as q32;
    * on corpora whose components are shallower than q32's 5 supersteps
    * (this corpus, by construction) the two agree exactly.
    */
  def dedupClustersConverged(spark: SparkSession, d: String,
      threshold: Double = DupThreshold, maxIterations: Int = 50,
      pairGen: (SparkSession, String, Double) => DataFrame = MinhashLshGen): DataFrame = {
    import spark.implicits._
    dedupLabelsConverged(spark, d, threshold, maxIterations, pairGen)
      .groupBy($"label".as("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
  }

  /** (doc_id, label) via the big-star/small-star CC primitive
    * (Graph.connectedComponentsStar) — O(log n) ROUNDS instead of the
    * propagation loop's O(diameter) supersteps (every round halves path
    * lengths): the label provider that holds when near-dup chains are
    * not just deep but astronomically deep. Labels are the component's
    * MIN doc id — identical to `dedupLabelsConverged`'s fixpoint
    * (DedupSimilaritySpec asserts equality); singletons label
    * themselves, like every provider on this ladder. Memo-shared under
    * the default generator: q87's cluster sizes and q132's
    * leakage-safe split ride ONE star fixpoint.
    */
  def dedupLabelsStar(spark: SparkSession, d: String,
      threshold: Double = DupThreshold,
      pairGen: (SparkSession, String, Double) => DataFrame = MinhashLshGen): DataFrame =
    if (pairGen eq MinhashLshGen) dedupLabelsStarBuild(spark, d, threshold)
    else dedupLabelsStarUncached(spark, d, threshold, pairGen)

  private val dedupLabelsStarBuild = shared("dedupLabelsStar", cache = false,
      DupThreshold, (t: Double) => Seq(t.toString, "minhashLsh")) {
    (spark, d, threshold) =>
      dedupLabelsStarUncached(spark, d, threshold, MinhashLshGen)
  }

  private def dedupLabelsStarUncached(spark: SparkSession, d: String,
      threshold: Double,
      pairGen: (SparkSession, String, Double) => DataFrame): DataFrame = {
    import spark.implicits._
    withSingletons(spark, d, Graph.connectedComponentsStar(
        pairGen(spark, d, threshold).select($"x", $"y"))
      .select($"id".as("doc_id"), $"component".as("label")))
  }

  /** `dedupClusters` on the star labels — same output contract as
    * q32/q86; GraphAppSpec property-tests the primitive against an
    * in-JVM union-find on random graphs.
    */
  def dedupClustersStar(spark: SparkSession, d: String,
      threshold: Double = DupThreshold,
      pairGen: (SparkSession, String, Double) => DataFrame = MinhashLshGen): DataFrame = {
    import spark.implicits._
    dedupLabelsStar(spark, d, threshold, pairGen)
      .groupBy($"label".as("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
  }

  /** q224: duplication-vs-quality audit — pooled quality signals per
    * dup-cluster-size bucket (singleton / pair / 3–4 / 5–8 / 9+): does
    * duplicated content skew low-quality? The curation question behind
    * "dedup first or filter first": if the 9+ bucket's stop-word and
    * alpha ratios sit well below the singleton bucket, heavy duplication
    * marks template/spam families and dedup doubles as a quality filter;
    * if flat, the two passes are independent dials.
    *
    * Exactness: per-bucket ratios are POOLED (sum of exact per-doc
    * integer counters, ONE double division at the end) rather than
    * means of per-doc doubles — deterministic across engines, and the
    * statistically right pooling for token-weighted rates. Buckets are
    * an explicit CASE chain, not floor(log2(sz)) (log2 of an exact
    * power can land a hair under the integer in either engine).
    *
    * Shape: star labels memo-shared (q132/q221's lineage), one
    * label-keyed size aggregate, one doc-keyed join onto the q18
    * counters, then a 5-row aggregate. No text re-scan beyond the
    * shared quality projection.
    */
  def dupQualityAudit(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val labels = dedupLabelsStar(spark, d)
    val sizes = labels.groupBy($"label").agg(count(lit(1)).as("sz"))
    val q = Text.qualityScore(spark, d)
      .select($"doc_id", $"n_tokens", $"n_stop", $"n_alpha")
    labels.join(sizes, "label").join(q, "doc_id")
      .select(
        when($"sz" === 1L, 0L).when($"sz" === 2L, 1L)
          .when($"sz" <= 4L, 2L).when($"sz" <= 8L, 3L).otherwise(4L)
          .as("size_bucket"),
        $"label", $"n_tokens", $"n_stop", $"n_alpha")
      .groupBy($"size_bucket")
      .agg(countDistinct($"label").as("n_clusters"),
        count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("sum_tokens"),
        sum($"n_stop").as("sum_stop"),
        sum($"n_alpha").as("sum_alpha"))
      .select($"size_bucket", $"n_clusters", $"n_docs", $"sum_tokens",
        round($"sum_stop".cast("double") / $"sum_tokens".cast("double")
          * lit(1000000.0)).cast("long").as("stop_q6"),
        round($"sum_alpha".cast("double") / $"sum_tokens".cast("double")
          * lit(1000000.0)).cast("long").as("alpha_q6"))
  }

  /** q183: eval-set NEAR-DUP contamination by train source — the
    * near-duplicate counterpart of q59's exact n-gram decontamination:
    * the q59/q116 "eval:" md5 bucket (5 % of docs) stands in for the
    * held-out benchmark, and any near-dup pair (jac ≥ threshold) with
    * EXACTLY one eval-side member is a contamination edge. Aggregated
    * per TRAIN-side source: pair count, distinct flagged train docs,
    * distinct implicated eval docs, the source's train population, and
    * the exact 1e6 contamination rate — the per-provider audit that
    * says which ingest feed leaks benchmark-adjacent text (q59 catches
    * verbatim 5-gram overlap; this catches paraphrase-level overlap the
    * n-gram dictionary misses).
    *
    * Scale: rides the memo-shared parameterized pair ladder (default =
    * the LSH generator, exact-Jaccard `jaccardPairs` as the oracle-gold
    * rung — identical output on this corpus); flags/source attach by
    * two doc_id projections; the report is a ≤ |sources| aggregate.
    */
  def evalContamination(spark: SparkSession, d: String,
      threshold: Double = DupThreshold,
      pairGen: (SparkSession, String, Double) => DataFrame = MinhashLshGen): DataFrame = {
    import spark.implicits._
    val docs = documents(spark, d)
      .select($"doc_id", $"source", evalBucket($"doc_id").as("ev"))
    val edges = evalContaminationEdges(spark, d, threshold, pairGen)
    val perSource = edges.groupBy($"source")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct($"train_doc").as("n_train_flagged"),
        countDistinct($"eval_doc").as("n_eval_implicated"))
    docs.filter(!$"ev").groupBy($"source")
      .agg(count(lit(1)).as("n_train_docs"))
      .join(perSource, Seq("source"), "left")
      .select($"source", $"n_train_docs",
        coalesce($"n_pairs", lit(0L)).as("n_pairs"),
        coalesce($"n_train_flagged", lit(0L)).as("n_train_flagged"),
        coalesce($"n_eval_implicated", lit(0L)).as("n_eval_implicated"))
      .withColumn("contamination_q6",
        expr("n_train_flagged * 1000000L div n_train_docs"))
  }

  /** The q59/q116 "eval:" md5 bucket as a column predicate. */
  private[operators] def evalBucket(id: org.apache.spark.sql.Column) =
    pmod(md5Bits32(concat(lit("eval:"), id.cast("string")), 1), lit(100L)) < 5

  /** The (train_doc, eval_doc, source) contamination edges behind q183
    * and q187: near-dup pairs with EXACTLY one eval side, attributed to
    * the train side's source.
    */
  private[operators] def evalContaminationEdges(spark: SparkSession,
      d: String, threshold: Double,
      pairGen: (SparkSession, String, Double) => DataFrame): DataFrame = {
    import spark.implicits._
    val docs = documents(spark, d)
      .select($"doc_id", $"source", evalBucket($"doc_id").as("ev"))
    pairGen(spark, d, threshold).select($"x", $"y")
      .join(docs.select($"doc_id".as("x"), $"source".as("sx"), $"ev".as("ex")), "x")
      .join(docs.select($"doc_id".as("y"), $"source".as("sy"), $"ev".as("ey")), "y")
      .filter($"ex" =!= $"ey")
      .select(when($"ex", $"y").otherwise($"x").as("train_doc"),
        when($"ex", $"x").otherwise($"y").as("eval_doc"),
        when($"ex", $"sy").otherwise($"sx").as("source"))
  }

  /** q187: the CONSTRUCTIVE follow-up to q183 — actually decontaminate:
    * drop every train doc near-duplicate to an eval doc and emit the
    * per-source manifest of what remains: docs and exact BPE-token mass
    * before/after, removed counts, and the exact 1e6 removed token
    * share. The decision record a training run keeps next to its data
    * card ("we removed N docs / M tokens from source S for benchmark
    * adjacency"), beside the audit that justified it.
    *
    * Scale: the flagged set is the q183 edge projection (dup-density-
    * bounded); one anti-join-shaped aggregate per source — flags attach
    * by doc_id, token mass is the memo-shared q57 BPE column convention.
    */
  def decontaminatedManifest(spark: SparkSession, d: String,
      threshold: Double = DupThreshold,
      pairGen: (SparkSession, String, Double) => DataFrame = MinhashLshGen): DataFrame = {
    import spark.implicits._
    import graft.functions.TextFunctions.{tokens, tokenSum, bpePieces}
    val flagged = evalContaminationEdges(spark, d, threshold, pairGen)
      .select($"train_doc".as("doc_id")).distinct()
      .withColumn("flagged", lit(true))
    documents(spark, d)
      .filter(!evalBucket($"doc_id"))
      .select($"doc_id", $"source",
        tokenSum(tokens($"text"), bpePieces).as("n_toks"))
      .join(flagged, Seq("doc_id"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_toks").as("n_tokens"),
        sum($"flagged".isNotNull.cast("long")).as("n_removed"),
        sum(when($"flagged".isNotNull, $"n_toks").otherwise(0L))
          .as("tokens_removed"))
      .select($"source", $"n_docs", $"n_tokens", $"n_removed",
        $"tokens_removed",
        ($"n_docs" - $"n_removed").as("n_docs_kept"),
        ($"n_tokens" - $"tokens_removed").as("n_tokens_kept"),
        expr("tokens_removed * 1000000L div n_tokens").as("removed_q6"))
  }

  /** Per-document n-gram NOVELTY against everything ingested before it:
    * the fraction of a doc's distinct 3-gram shingles whose FIRST corpus
    * occurrence (min doc_id — ingest order) is this doc. The
    * temporal/incremental view of duplication a crawl pipeline tracks —
    * a novelty collapse flags a scraped-content loop long before pair
    * enumeration would. Docs with fewer than 3 tokens have no grams and
    * re-enter with zeros.
    *
    * Scale: rides the memoized shingle table (q15/q16/q32 share it); one
    * (gram → min doc_id) aggregate over the gram vocabulary, one hash
    * join back on gram, one (doc_id) aggregate — all map-side
    * combinable, nothing quadratic.
    */
  def ngramNovelty(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val sh = docShingles(spark, d).distinct()
    val first = sh.groupBy($"s").agg(min($"doc_id").as("first_doc"))
    val perDoc = sh.join(first, "s")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L)).as("n_novel"))
    documents(spark, d).select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_grams", lit(0L)).as("n_grams"),
        coalesce($"n_novel", lit(0L)).as("n_novel"),
        coalesce($"n_novel".cast("double") / $"n_grams", lit(0.0)).as("novelty"))
  }

  /** SimHash near-dup pairs: 64-bit sketch, pigeonhole banding on 16-bit
    * chunks (complete for Hamming ≤ 3), Hamming re-check. Rows-only
    * (engine-specific hash); sketch locality is property-tested.
    */
  /** (doc_id, sk) 64-bit SimHash sketches, memo-cached (the cache is a
    * collapse barrier, as in minhashLsh).
    */
  private[graft] val simhashSketch = shared("simhashSketch", cache = true) { (spark, d) =>
    import spark.implicits._
    documents(spark, d)
      .select($"doc_id", simhash(cleanTokens($"text")).as("sk"))
  }

  /** q238: SimHash bit-bias audit — per bit position of the 64-bit
    * sketch, the fraction of documents with that bit set and its
    * absolute deviation from the unbiased ½ (|2f − 1|, the standard
    * hash-balance statistic). The sketch-health check read BEFORE
    * trusting q23's near-dup pairs or q215's agreement numbers: a bit
    * stuck near 0 or 1 carries no information, so the sketch's
    * effective width shrinks below 64 and the Hamming-≤3 banding's
    * false-positive mass inflates — the per-bit panel localizes WHICH
    * hash windows are weak (the same realized-vs-nominal discipline as
    * q231's Bloom occupancy and q185's IVF balance). All integers
    * until the two final quantized divisions.
    *
    * Shape: rides the memo-shared (doc_id, sk) sketch table; one
    * map-only 64-way bit explode, ONE 64-row aggregate with map-side
    * combine. Nothing corpus-sized shuffles.
    */
  def simhashBitBias(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    simhashSketch(spark, d)
      .select($"sk", explode(sequence(lit(0), lit(63))).as("b"))
      .groupBy($"b".cast("long").as("bit"))
      .agg(count(lit(1)).as("n_docs"),
        sum(expr("shiftright(sk, b) & 1")).as("n_ones"))
      .select($"bit", $"n_docs", $"n_ones",
        round($"n_ones".cast("double") / $"n_docs".cast("double")
          * lit(1000000.0)).cast("long").as("ones_frac_q6"),
        round(abs($"n_ones" * 2 - $"n_docs").cast("double")
          / $"n_docs".cast("double")
          * lit(1000000.0)).cast("long").as("bias_q6"))
  }

  // memo-cached (r17): q23 emits it and q175's eval re-reads it as the
  // prediction side — the banded self-join + distinct ran per consumer
  val simhashPairs = shared("simhashPairs", cache = true, 3) { (spark, d, maxHamming) =>
    import spark.implicits._
    val sk = simhashSketch(spark, d)
    val bands = sk.select($"doc_id", $"sk", explode(hammingBands($"sk")).as("hb"))
      .select($"doc_id", $"sk", $"hb.band".as("band"), $"hb.key".as("key"))
    bands.as("a").join(bands.as("b"),
        $"a.band" === $"b.band" && $"a.key" === $"b.key" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("x"), $"b.doc_id".as("y"),
        hamming($"a.sk", $"b.sk").as("dist"))
      // filter BEFORE distinct (r17, guide §2.3): dist is a pure
      // function of the pair, so the two commute — but most banded
      // collisions fail the Hamming cut, and dropping them map-side
      // shrinks the distinct's exchange to the admitted pairs
      .filter($"dist" <= maxHamming)
      .distinct()
  }

  /** Exact-substring duplication coverage (the token-span form of
    * suffix-array dedup — Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better"; PAPERS.md): for every document, how
    * many of its tokens sit inside an `n`-gram that also occurs in some
    * OTHER document. Positional n-grams (duplicates kept), a
    * cross-document frequency filter, then a per-document interval-union
    * sweep — contribution of occurrence at p = (p+n−1) − max(furthest
    * end so far, p−1), clamped at 0 — via one running-max window.
    *
    * Scale: the gram table is corpus-sized (one row per token, like the
    * shingle index); the df filter is one map-side-combined aggregate;
    * the sweep windows partition by doc_id — bounded state, no skew
    * (docs are bounded). A true suffix-array build would replace the
    * fixed n with maximal matches; the fixed-n form is the standard
    * distributed approximation.
    */
  /** Incremental-ingest dedup — the operational pattern at corpus scale:
    * a new batch (a deterministic 10 % slice here) is checked against the
    * EXISTING corpus only, never against itself or existing-vs-existing.
    * Each incoming doc reports an exact-duplicate flag (fingerprint
    * semi-join), a near-duplicate flag (3-gram Jaccard ≥ `threshold`
    * against existing docs only), and the resulting keep decision.
    *
    * Scale: the asymmetry is the point — cost is ∝ |incoming| × collision
    * density, not |corpus|²: the incoming shingle set probes the existing
    * inverted index as a hash join; the existing side never self-joins.
    * In production the existing index (fingerprints + shingle→doc) is a
    * materialized table maintained across ingests; here both sides derive
    * from the same documents scan.
    */
  def incrementalDedup(spark: SparkSession, d: String,
      threshold: Double = DupThreshold, newPct: Int = 10): DataFrame = {
    import spark.implicits._
    val b = documents(spark, d).select($"doc_id", $"text",
      pmod(graft.functions.Hashing.md5Bits32(
        concat(lit("incr:"), $"doc_id".cast("string")), 1), lit(100L)).as("bk"))
    val incoming = b.filter($"bk" >= (100 - newPct))
    val existing = b.filter($"bk" < (100 - newPct))
    // exact: fingerprint semi-join
    val exactDups = incoming.select($"doc_id", md5Fingerprint($"text").as("fp"))
      .join(existing.select(md5Fingerprint($"text").as("fp")).distinct(), "fp")
      .select($"doc_id").distinct()
    // near: incoming shingles probe the existing inverted index
    def sh(df: DataFrame) = df.select($"doc_id",
      explode(shingles(tokens($"text"), 3)).as("s"))
    val inSh = sh(incoming)
    val exSh = sh(existing)
    val inSz = inSh.groupBy($"doc_id").agg(count(lit(1)).as("sz"))
    val exSz = exSh.groupBy($"doc_id").agg(count(lit(1)).as("sz"))
    val nearDups = inSh.select($"doc_id".as("x"), $"s")
      .join(exSh.select($"doc_id".as("y"), $"s"), "s")
      .groupBy($"x", $"y").agg(count(lit(1)).as("inter"))
      .join(inSz.select($"doc_id".as("x"), $"sz".as("sx")), "x")
      .join(exSz.select($"doc_id".as("y"), $"sz".as("sy")), "y")
      .filter($"inter".cast("double") / ($"sx" + $"sy" - $"inter") >= threshold)
      .select($"x".as("doc_id")).distinct()
    incoming.select($"doc_id")
      .join(exactDups.withColumn("e", lit(true)), Seq("doc_id"), "left")
      .join(nearDups.withColumn("n", lit(true)), Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"e", lit(false)).as("exact_dup"),
        coalesce($"n", lit(false)).as("near_dup"),
        (!coalesce($"e", lit(false)) && !coalesce($"n", lit(false))).as("keep"))
  }

  /** MAXIMAL cross-document duplicate runs — the suffix-array rung above
    * `substringDupCoverage`: per document, the length of the LONGEST
    * token substring (≥ `n` tokens) that also occurs verbatim in another
    * document, plus the duplicated-token coverage. This is the exact
    * quantity Lee et al.'s suffix-array dedup reads off adjacent-suffix
    * LCPs (they too only count matches above a floor — 50 BPE tokens);
    * here the floor is the seed width `n`.
    *
    * Seed-and-extend made EXACT: a cross-doc match of length L ≥ n makes
    * its L−n+1 constituent n-gram windows match at aligned positions, so
    * maximal matches are exactly the maximal DIAGONAL RUNS (consecutive p
    * at fixed partner doc and offset p−p') in the cross-doc equal-gram
    * pair table — recovered relationally with one gaps-and-islands window
    * per (doc, partner, diagonal). No suffix array materialized, same
    * answer as one for every match ≥ n.
    *
    * Scale: pair volume = cross-doc duplicated gram OCCURRENCE pairs —
    * tracks duplicate density like the LSH candidate stage, not corpus²
    * (the df≥2 semi-join kills unique grams, the overwhelming majority,
    * before the self-join). Windows partition by (doc, partner, diagonal)
    * then (doc) — bounded state, doc-bounded keys. At extreme pathologies
    * (one boilerplate gram in every doc) the equal-gram join skews like
    * any inverted index; the production answer is `maxSeedDf`, a df
    * ceiling on seed grams — the standard suffix-array-dedup mitigation
    * (a gram in >ceiling docs is boilerplate, not a dup SIGNAL; runs it
    * anchors are found from their rarer constituent grams anyway unless
    * the whole run is boilerplate). Default None = exact oracle parity.
    */
  def maxDupRuns(spark: SparkSession, d: String, n: Int = 10,
      maxSeedDf: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
    val toks = documents(spark, d).select($"doc_id", tokens($"text").as("ws"))
    val pg = toks.select($"doc_id",
        posexplode(shinglesAll($"ws", n)).as(Seq("p0", "s")))
      .select($"doc_id", ($"p0" + 1).as("p"), $"s")
    // keep only grams seen in ≥ 2 docs before self-joining: unique grams
    // (the bulk of the corpus) never reach the join
    val dfed = pg.select($"doc_id", $"s").distinct()
      .groupBy($"s").agg(count(lit(1)).as("df"))
      .filter($"df" >= 2)
    val dupGrams = maxSeedDf.fold(dfed)(c => dfed.filter($"df" <= c)).select($"s")
    val occ = pg.join(dupGrams, "s")
    val pairs = occ.as("a").join(occ.as("b"),
        $"a.s" === $"b.s" && $"a.doc_id" =!= $"b.doc_id")
      .select($"a.doc_id".as("doc_id"), $"a.p".as("p"),
        $"b.doc_id".as("od"), ($"a.p" - $"b.p").as("diag"))
    // gaps-and-islands: consecutive p on one (partner, diagonal) = one run
    val runs = pairs
      .withColumn("grp", $"p" - row_number().over(
        w.partitionBy($"doc_id", $"od", $"diag").orderBy($"p")))
      .groupBy($"doc_id", $"od", $"diag", $"grp")
      .agg(min($"p").as("start"), (count(lit(1)) + (n - 1)).as("len"))
    // interval-union sweep over run spans (runs from different partners
    // overlap/nest): same running-max window as substringDupCoverage
    val sweep = w.partitionBy($"doc_id")
      .orderBy($"start", ($"start" + $"len").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val perDoc = runs
      .withColumn("prev_end", max($"start" + $"len" - 1).over(sweep))
      .groupBy($"doc_id")
      .agg(max($"len").as("max_dup_run"),
        sum(greatest(lit(0), ($"start" + $"len" - 1) -
          greatest(coalesce($"prev_end", lit(0)), $"start" - 1))).as("covered"))
    toks.select($"doc_id", size($"ws").cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens",
        coalesce($"max_dup_run", lit(0L)).cast("long").as("max_dup_run"),
        coalesce($"covered", lit(0L)).cast("long").as("covered_tokens"))
  }

  def substringDupCoverage(spark: SparkSession, d: String, n: Int = 10): DataFrame = {
    import spark.implicits._
    val toks = documents(spark, d).select($"doc_id", tokens($"text").as("ws"))
    val pg = toks.select($"doc_id",
        posexplode(shinglesAll($"ws", n)).as(Seq("p0", "s")))
      .select($"doc_id", ($"p0" + 1).as("p"), $"s")
    val dupGrams = pg.select($"doc_id", $"s").distinct()
      .groupBy($"s").agg(count(lit(1)).as("df"))
      .filter($"df" >= 2).select($"s")
    val occ = pg.join(dupGrams, "s").select($"doc_id", $"p")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"p")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val covered = occ
      .withColumn("prev_end", max($"p" + (n - 1)).over(w))
      .select($"doc_id", greatest(lit(0),
        ($"p" + lit(n - 1)) - greatest(coalesce($"prev_end", lit(0)), $"p" - 1)).as("add"))
      .groupBy($"doc_id").agg(sum($"add").as("covered"))
    toks.select($"doc_id", size($"ws").cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens",
        coalesce($"covered", lit(0L)).cast("long").as("covered_tokens"),
        (coalesce($"covered", lit(0L)).cast("double") / $"n_tokens").as("dup_frac"))
  }

  /** q115: edit-distance near-dup pairs over a normalized 40-char title —
    * complete PassJoin (Li et al., ICDE 2011) segment signatures: split
    * every title into `maxDist`+1 even segments (boundaries
    * start(i,l)=⌊i·l/(k+1)⌋). By pigeonhole, an edit script of ≤ maxDist
    * ops leaves at least one segment of `a` untouched, and that segment
    * appears verbatim in `b` at a start position shifted by ≤ maxDist.
    * Candidates therefore come from an equi-join of a-segments against
    * b-substrings on (segment index, assumed a-length, content); the
    * exact DP distance then verifies. `levenshtein` is a built-in in
    * both engines and integer-valued, so the oracle is exact and is the
    * FULL length-filtered Levenshtein self-join — no recall carve-out
    * (the previous prefix-blocked form missed pairs whose edits touch
    * the first 4 chars and hub-blocked on common prefixes).
    *
    * Scale: the join key's content component is an ~l/(k+1)-char
    * substring (a 10-gram for 40-char titles), so candidate blocks have
    * n-gram-level entropy — no single block is load-bearing, unlike a
    * shared-prefix block where every "the …" title collides. Substring
    * fan-out per doc is bounded: (2·maxDist+1) assumed lengths ×
    * (maxDist+1) segments × ≤(2·maxDist+1) shifts (≤ 196 rows at the
    * defaults), deduplicated before the shuffle. The O(len²) DP runs
    * only on distinct candidate pairs.
    */
  def editDistanceNearDup(spark: SparkSession, d: String, maxDist: Int = 3,
      titleLen: Int = 40): DataFrame = {
    import spark.implicits._
    val nSeg = maxDist + 1
    val t = documents(spark, d)
      // a null text has no title: admitting it would put a NULL in the
      // length dictionary's Int encoder (nulled-fixture DegenSweep)
      .filter($"text".isNotNull)
      .select($"doc_id",
        substring(regexp_replace(trim(lower($"text")), "\\s+", " "),
          1, titleLen).as("ti"))
      .withColumn("l", length($"ti"))
    val segIdx = array((0 until nSeg).map(lit): _*)
    // segment i of a length-l string spans [⌊i·l/k⌋, ⌊(i+1)·l/k⌋)
    def segStart(i: Column, l: Column) = floor(i * l / nSeg).cast("int")
    val segs = t
      .select($"doc_id", $"ti", $"l", explode(segIdx).as("i"))
      .withColumn("p0", segStart($"i", $"l"))
      .select($"doc_id".as("id_a"), $"i", $"l",
        substring($"ti", $"p0" + 1,
          segStart($"i" + 1, $"l") - $"p0").as("seg"))
    // b generates, for every assumed a-length within ±maxDist of its own,
    // the substrings a's untouched segment could land on (shift ≤ maxDist).
    // Titles are length-capped, so the distinct-length dictionary is ≤
    // titleLen+1 values — collect it once (the eager-scalar pattern) and
    // only generate for lengths that actually occur: with a 40-char cap
    // almost every title is exactly 40, cutting the fan-out ~(2·maxDist+1)×
    val lens = graft.core.Bounded.collectDs(
      t.select($"l").distinct().as[Int], 4096,
      "passJoin length dictionary (≤ title-length-cap distinct values)").toSet
    val subs = t
      .select($"doc_id", $"ti", length($"ti").as("lb"),
        explode(sequence(greatest(length($"ti") - maxDist, lit(0)),
          length($"ti") + maxDist)).as("l"))
      .filter($"l".isin(lens.toSeq: _*))
      .select($"doc_id", $"ti", $"lb", $"l", explode(segIdx).as("i"))
      .withColumn("p0", segStart($"i", $"l"))
      .withColumn("sl", segStart($"i" + 1, $"l") - $"p0")
      .withColumn("lo", greatest($"p0" - maxDist, lit(0)))
      .withColumn("hi", least($"p0" + maxDist, $"lb" - $"sl"))
      .filter($"hi" >= $"lo")
      .select($"doc_id", $"ti", $"i", $"l", $"sl",
        explode(sequence($"lo", $"hi")).as("p"))
      .select($"doc_id".as("id_b"), $"i", $"l",
        substring($"ti", $"p" + 1, $"sl").as("seg"))
      .distinct()
    val cand = segs.join(subs, Seq("i", "l", "seg"))
      .filter($"id_a" =!= $"id_b")
      .select(least($"id_a", $"id_b").as("doc_a"),
        greatest($"id_a", $"id_b").as("doc_b"))
      .distinct()
    val ti = t.select($"doc_id", $"ti")
    cand
      .join(ti.select($"doc_id".as("doc_a"), $"ti".as("ta")), Seq("doc_a"))
      .join(ti.select($"doc_id".as("doc_b"), $"ti".as("tb")), Seq("doc_b"))
      .filter(abs(length($"ta") - length($"tb")) <= maxDist)
      // threshold form: the DP abandons a row as soon as every cell in a
      // band exceeds maxDist (O(maxDist·n) per pair instead of O(n²)) and
      // returns −1 for it — exact distances for everything kept, so the
      // result is identical to the unbounded form the oracle replays
      .select($"doc_a", $"doc_b",
        levenshtein($"ta", $"tb", maxDist).cast("long").as("dist"))
      .filter($"dist" >= 0L && $"dist" <= maxDist)
  }

  /** q176: dedup-adjusted token budget — per source, the raw doc/token
    * mass vs the EFFECTIVE mass after near-dup survivorship (only each
    * cluster's canonical doc counts, q82's keep-longest rule), with the
    * duplication discount as an exact 1e6 integer ratio. The number a
    * mixture planner actually needs: q54/q65 weight sources by token
    * counts, and double-counting near-dups inflates exactly the crawl
    * sources that need discounting most. Canonical ownership attributes
    * a cross-source cluster to its representative's source — the
    * standard survivorship convention, documented rather than hidden.
    *
    * Scale: rides the memo-shared dedupLabels/canonicalDocs lineage; the
    * token side is one scan-stage size() projection; the report is one
    * |sources|-row aggregate.
    */
  // memo-cached (r18): the output is one row per SOURCE (~20 rows),
  // but each uncached evaluation re-tokenizes the corpus for the
  // ntok sum and re-runs the canonical pick — and q195's epoch plan
  // inlines this lineage 3–4× in one query tree (eff → tot / w → sw
  // → final each re-derive it). The memo makes that one corpus pass
  // per session instead of four per q195 run plus one for q176.
  val effectiveTokens = shared("effectiveTokens", cache = true) { (spark, d) =>
    import spark.implicits._
    val canon = canonicalDocs(spark, d)
      .select($"canonical_doc".as("doc_id"), lit(1L).as("is_canon"))
    documents(spark, d)
      .select($"doc_id", $"source",
        size(graft.functions.TextFunctions.tokens($"text")).cast("long")
          .as("ntok"))
      .join(canon, Seq("doc_id"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("raw_docs"), sum($"ntok").as("raw_tokens"),
        sum(coalesce($"is_canon", lit(0L))).as("effective_docs"),
        sum(coalesce($"is_canon", lit(0L)) * $"ntok").as("effective_tokens"))
      .withColumn("discount_q6",
        expr("(raw_tokens - effective_tokens) * 1000000L div raw_tokens"))
  }

  /** q180: duplication-topology datasheet — the cluster-size
    * distribution of the near-dup graph: for each cluster size, how many
    * clusters, how many documents they hold, and that mass's exact 1e6
    * share of the corpus. The shape (singleton-dominated vs a few giant
    * components) decides dedup strategy — giant components mean
    * templated/boilerplate families where survivorship (q82) loses real
    * content and containment (q108) or chunk-level (q99) tools apply.
    *
    * Scale: rides the memo-shared dedupLabels propagation; two tiny
    * aggregates after it (|clusters| rows → |distinct sizes| rows).
    */
  def dupTopology(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val sizes = dedupLabels(spark, d).groupBy($"label")
      .agg(count(lit(1)).as("sz"))
    val total = sizes.agg(sum($"sz").as("total"))
    sizes.groupBy($"sz").agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", $"sz" * $"n_clusters")
      .crossJoin(broadcast(total))
      .select($"sz", $"n_clusters", $"n_docs",
        expr("n_docs * 1000000L div total").as("doc_share_q6"))
  }

  /** q175: dedup-method evaluation harness — precision/recall/F1 of the
    * SimHash detector (q23, Hamming ≤ 3) against the exact 3-gram
    * Jaccard ≥ 0.5 pair set (q16) as ground truth. The QA query a
    * pipeline owes itself before swapping detectors: both pair sets are
    * the memo-shared lineages the dedup queries already build, and all
    * three metrics are exact integer ratios (F1 = 2·TP/(P+T) exactly,
    * no double round-trip).
    *
    * Scale: the comparison is a full-outer join of two candidate-pair
    * tables (corpus-sublinear, dup-density-bounded) and one scalar
    * aggregate.
    */
  def dedupEval(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val truth = jaccardPairs(spark, d).select($"x", $"y", lit(1L).as("in_t"))
    val pred = simhashPairs(spark, d).select($"x", $"y", lit(1L).as("in_p"))
    // coalesce: on a degenerate corpus (empty truth/pred/intersection)
    // the sums are NULL while the oracle's count(*) form yields 0 —
    // report zero metrics, not NULLs (round-10 advice)
    truth.join(pred, Seq("x", "y"), "full_outer")
      .agg(coalesce(sum($"in_t"), lit(0L)).as("n_truth"),
        coalesce(sum($"in_p"), lit(0L)).as("n_pred"),
        coalesce(sum($"in_t" * $"in_p"), lit(0L)).as("n_tp"))
      .select($"n_truth", $"n_pred", $"n_tp",
        coalesce(expr("n_tp * 1000000L div n_pred"), lit(0L)).as("precision_q6"),
        coalesce(expr("n_tp * 1000000L div n_truth"), lit(0L)).as("recall_q6"),
        coalesce(expr("2L * n_tp * 1000000L div (n_pred + n_truth)"), lit(0L))
          .as("f1_q6"))
  }

  /** q199: duplicate-cluster SIZE SPECTRUM — the power-law audit over
    * the q132 star labels: cluster sizes bucketed by ⌊log₂(size)⌋, per
    * bucket the cluster count, total document mass, and the largest
    * cluster. Natural web-scale corpora show a heavy but smoothly
    * decaying tail; a spike in a high bucket is the signature of
    * template flooding or a mirror site, and the bucket's doc mass is
    * exactly how many documents dedup will collapse. This is the audit
    * a curation run reads BEFORE committing to a dedup threshold
    * (q180's topology metrics summarize edges; this summarizes the
    * resulting components).
    *
    * Scale: rides the memo-shared star labels (O(log n) fixpoint); the
    * spectrum is two aggregates — (label) with map-side combine, then
    * ≤64 bucket rows. log₂ via `length(bin(x))−1` (exact on integers,
    * identical in both engines — the HLL rank trick).
    */
  def clusterSpectrum(spark: SparkSession, d: String,
      threshold: Double = DupThreshold): DataFrame = {
    import spark.implicits._
    dedupLabelsStar(spark, d, threshold)
      .groupBy($"label").agg(count(lit(1)).as("sz"))
      .groupBy((length(bin($"sz")) - 1).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_clusters"),
        sum($"sz").as("n_docs"),
        max($"sz").as("max_size"))
      .select($"bucket", $"n_clusters", $"n_docs", $"max_size")
  }

  /** q205: dedup threshold-sensitivity sweep — for each candidate
    * threshold τ ∈ {0.50, 0.55, …, 0.90}, the pair count, the number of
    * dominated docs (docs with SOME ≥τ near-dup of smaller id — what a
    * keep-the-smallest greedy would drop), and the number of docs
    * touched by any ≥τ pair. The curve a curation run reads to PICK the
    * dedup threshold (q175 evaluates one τ against truth; this shows
    * how pair volume and collapse mass move across the dial — a cliff
    * between adjacent τ means the corpus has a near-dup band there).
    *
    * Scale: the sweep rides the memo-shared exact pair table (built
    * once, dup-density-bounded — NOT corpus-sized), fans it out ×9 with
    * a broadcast τ table, and everything after is map-side-combinable
    * aggregates on (τ) keys. τ compares as tau/100.0 — a single exact
    * division producing the identical IEEE double in both engines.
    */
  /** q209: canonical-selection policy audit — for every dup cluster
    * (size ≥ 2), what the default keep-the-smallest-id policy keeps vs
    * what a keep-the-best-quality policy would keep (quality = q18's
    * stop-word ratio, the q136 calibration direction), whether the
    * upgrade is strict, and the 1e6-quantized quality gain. The number
    * that decides if canonical selection is worth a policy change
    * before a 100 TB dedup pass bakes the losers in.
    *
    * Shape: labels ride the star-CC memo; the whole audit is ONE
    * aggregate — keep = min(struct(doc_id, sr)), best =
    * max(struct(sr, −doc_id)) — the struct-extreme argmax (no window,
    * no join-back; ties on quality resolve to the smaller id, so
    * best ≡ keep on all-equal clusters).
    */
  def canonicalPolicy(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val labels = dedupLabelsStar(spark, d)
    val sr = Text.qualityScore(spark, d).select($"doc_id", $"stop_ratio")
    labels.join(sr, "doc_id")
      .groupBy($"label").agg(
        count(lit(1)).as("size"),
        lexMin(struct($"doc_id", $"stop_ratio")).as("ks"),
        lexMax(struct($"stop_ratio", (-$"doc_id").as("nd"))).as("bs"))
      .filter($"size" >= 2L)
      .select($"label", $"size",
        $"ks.doc_id".as("keep_doc"),
        (-$"bs.nd").as("best_doc"),
        when($"bs.stop_ratio" > $"ks.stop_ratio", lit(1L)).otherwise(lit(0L))
          .as("upgraded"),
        round(($"bs.stop_ratio" - $"ks.stop_ratio") * lit(1000000.0))
          .cast("long").as("gain_q6"))
  }

  /** q221: per-source duplication rate — per source: docs, docs sitting
    * in a dup cluster (size ≥ 2), non-canonical docs (cluster members
    * that are not the smallest id — what dedup actually deletes), and
    * the 1e6-quantized dup rate. The "which source do I dedup harder"
    * dial: q211 attributes pairs to source PAIRS, this attributes the
    * collapse mass to each source's own budget.
    *
    * Shape: star labels memo-shared; cluster sizes and minima are one
    * label-keyed aggregate joined back to the member table (doc-keyed),
    * then a |sources|-row aggregate.
    */
  def sourceDupRate(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val labels = dedupLabelsStar(spark, d)
    val stats = labels.groupBy($"label")
      .agg(count(lit(1)).as("sz"), min($"doc_id").as("keep"))
    val j = labels.join(stats, "label")
      .join(documents(spark, d).select($"doc_id", $"source"), "doc_id")
    j.groupBy($"source").agg(
        count(lit(1)).as("n_docs"),
        sum(when($"sz" >= 2L, 1L).otherwise(0L)).as("n_in_clusters"),
        sum(when($"sz" >= 2L && $"doc_id" =!= $"keep", 1L).otherwise(0L))
          .as("n_noncanonical"))
      .select($"source", $"n_docs", $"n_in_clusters", $"n_noncanonical",
        round($"n_noncanonical".cast("double") / $"n_docs".cast("double")
          * lit(1000000.0)).cast("long").as("dup_rate_q6"))
  }

  /** q211: cross-source duplication matrix — near-dup pair counts per
    * unordered source pair, with each cell's share of all pairs. The
    * mirror-site detector at mixture-design time: a heavy off-diagonal
    * cell means two sources are republishing each other (dedup them
    * JOINTLY or down-weight one); a heavy diagonal means a source
    * self-duplicates (templates). q180 summarizes the dup graph's
    * topology; this attributes its edges to the source mixture.
    *
    * Shape: rides the memo-shared exact pair table; two doc_id-keyed
    * joins against the (doc_id, source) projection (never broadcast —
    * corpus-sized), one |sources|²-bounded aggregate, one scalar total.
    */
  def crossSourceDups(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val src = documents(spark, d).select($"doc_id", $"source")
    val pairs = jaccardPairs(spark, d)
      .join(src.select($"doc_id".as("x"), $"source".as("sx")), "x")
      .join(src.select($"doc_id".as("y"), $"source".as("sy")), "y")
      .select(least($"sx", $"sy").as("source_a"),
        greatest($"sx", $"sy").as("source_b"))
    val total = pairs.count()
    pairs.groupBy($"source_a", $"source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .select($"source_a", $"source_b", $"n_pairs",
        round($"n_pairs".cast("double") / lit(total).cast("double")
          * lit(1000000.0)).cast("long").as("share_q6"))
  }

  /** q225: cross-language duplication lift matrix — for every language
    * pair (including diagonals): observed near-dup pairs, the pair mass
    * possible under that cell's populations, observed and expected
    * shares, and the independence lift. q211's source matrix counts
    * WHERE dup pairs land; this one normalizes by how many pairs COULD
    * land there (cₐ·c_b cross, c(c−1)/2 diagonal, over N(N−1)/2), so a
    * small language pair with few absolute pairs but lift ≫ 1 still
    * surfaces — the systematic-translation / mirror-corpus detector
    * that raw counts bury under the dominant language's diagonal.
    *
    * Exactness: populations, possible-pair counts, and observed counts
    * are exact longs (possible-pair products bounded by |docs|² — fine
    * as an audit at any testable SF; the matrix itself is |langs|²
    * rows); shares and lift are the identical double chain in both
    * engines, quantized 1e6 / 1e3. Cells with zero possible pairs are
    * dropped rather than divided by zero.
    *
    * Shape: memoized pair table joined twice against the narrow
    * (doc_id, lang) projection, one |langs|²-cell aggregate, the grid
    * built from the |langs|-row count table — nothing here scales with
    * corpus size except the shared pair lineage.
    */
  def crossLangDups(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val lg = documents(spark, d).select($"doc_id", $"lang")
    val nDocs = documents(spark, d).count()
    val pTot = nDocs * (nDocs - 1L) / 2L
    val cnt = lg.groupBy($"lang").agg(count(lit(1)).as("c"))
    val grid = cnt.select($"lang".as("lang_a"), $"c".as("ca"))
      .crossJoin(cnt.select($"lang".as("lang_b"), $"c".as("cb")))
      .filter($"lang_a" <= $"lang_b")
      .select($"lang_a", $"lang_b",
        // exact integer possible-pair counts (c·(c−1) is even, so the
        // integer div is exact; the double chain stays confined to
        // share/expected/lift as documented)
        when($"lang_a" === $"lang_b", expr("ca * (ca - 1) div 2"))
          .otherwise($"ca" * $"cb").as("poss"))
      .filter($"poss" >= 1L)
    val pairs = jaccardPairs(spark, d)
      .join(lg.select($"doc_id".as("x"), $"lang".as("lx")), "x")
      .join(lg.select($"doc_id".as("y"), $"lang".as("ly")), "y")
      .select(least($"lx", $"ly").as("lang_a"),
        greatest($"lx", $"ly").as("lang_b"))
    val total = pairs.count()
    val obs = pairs.groupBy($"lang_a", $"lang_b")
      .agg(count(lit(1)).as("n_obs"))
    grid.join(obs, Seq("lang_a", "lang_b"), "left")
      .select($"lang_a", $"lang_b",
        coalesce($"n_obs", lit(0L)).as("n_pairs"), $"poss",
        round(coalesce($"n_obs", lit(0L)).cast("double")
          / lit(total.toDouble) * lit(1000000.0)).cast("long").as("share_q6"),
        round($"poss".cast("double") / lit(pTot.toDouble)
          * lit(1000000.0)).cast("long").as("expected_q6"),
        round((coalesce($"n_obs", lit(0L)).cast("double") / lit(total.toDouble))
          / ($"poss".cast("double") / lit(pTot.toDouble))
          * lit(1000.0)).cast("long").as("lift_q3"))
  }

  /** q226: dup-cluster cohesion audit — per cluster-size bucket
    * (pair / 3–4 / 5–8 / 9+): how many clusters are CLIQUES (every
    * member pair is an observed near-dup edge) vs CHAINS (held together
    * only by transitivity), with pooled edge density. The over-merge
    * risk gauge for connected-component dedup: a chain cluster contains
    * member pairs that never individually passed the similarity
    * threshold — A~B~C with A≁C — so deleting down to one canonical doc
    * destroys documents no pairwise judgment condemned. A chain-heavy
    * bucket says tighten the threshold or switch that size range to
    * centroid/medoid re-verification; a clique-heavy one says the
    * closure is faithful. q180 gives the size spectrum; this grades
    * each size class's internal evidence.
    *
    * Shape: both lineages memo-shared (star labels + the exact pair
    * table — the same generator family, so every pair is intra-cluster
    * by construction); one label-keyed edge count, one ≤4-row
    * aggregate. Density is exact-integer sums with ONE final division.
    */
  def clusterCohesion(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val labels = dedupLabelsStar(spark, d)
    val sizes = labels.groupBy($"label").agg(count(lit(1)).as("sz"))
      .filter($"sz" >= 2L)
    val edges = jaccardPairs(spark, d)
      .join(labels.select($"doc_id".as("x"), $"label"), "x")
      .groupBy($"label").agg(count(lit(1)).as("n_edges"))
    sizes.join(edges, Seq("label"), "left")
      .select($"label", $"sz",
        coalesce($"n_edges", lit(0L)).as("n_edges"),
        expr("sz * (sz - 1) div 2").as("poss"))
      .select(
        when($"sz" === 2L, 1L).when($"sz" <= 4L, 2L)
          .when($"sz" <= 8L, 3L).otherwise(4L).as("size_bucket"),
        $"n_edges", $"poss")
      .groupBy($"size_bucket")
      .agg(count(lit(1)).as("n_clusters"),
        sum(when($"n_edges" === $"poss", 1L).otherwise(0L)).as("n_cliques"),
        sum(when($"n_edges" < $"poss", 1L).otherwise(0L)).as("n_chains"),
        sum($"n_edges").as("sum_edges"),
        sum($"poss").as("sum_possible"))
      .select($"size_bucket", $"n_clusters", $"n_cliques", $"n_chains",
        $"sum_edges", $"sum_possible",
        round($"sum_edges".cast("double") / $"sum_possible".cast("double")
          * lit(1000000.0)).cast("long").as("density_q6"))
  }

  /** q243: canonical-selection length-bias audit — per cluster-size
    * bucket (the q226 convention), how the kept document's length
    * compares to its cluster's mean: mean of per-cluster ratios
    * canon_len·sz/Σlen (quantized to 1e6 BEFORE the bucket mean — exact
    * integer fold) and the count of clusters whose canonical is
    * SHORTER than its cluster mean (an exact-integer comparison,
    * canon_len·sz < Σlen). The systematic-bias check on q82's
    * min-doc_id canonical policy: if ingest order correlates with
    * length (crawl frontiers often emit stubs first), "keep the
    * earliest" quietly becomes "keep the shortest" and dedup shaves
    * token mass beyond the duplicates themselves — q209 audits
    * alternative policies, this measures what the DEFAULT one costs.
    *
    * Shape: the memo-shared star labels + one label-keyed aggregate,
    * a doc_id-keyed join for the canonical's length, a ≤4-row output.
    */
  def canonicalLengthBias(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val withLen = dedupLabelsStar(spark, d)
      .join(documents(spark, d).select($"doc_id", $"n_chars"), "doc_id")
    val per = withLen.groupBy($"label").agg(
        count(lit(1)).as("sz"),
        min($"doc_id").as("canon_id"),
        sum($"n_chars").as("sum_len"))
      .filter($"sz" >= 2L)
    per
      .join(documents(spark, d)
        .select($"doc_id".as("canon_id"), $"n_chars".as("canon_len")),
        "canon_id")
      .select(
        when($"sz" === 2L, 1L).when($"sz" <= 4L, 2L)
          .when($"sz" <= 8L, 3L).otherwise(4L).as("size_bucket"),
        round($"canon_len".cast("double") * $"sz".cast("double")
          / $"sum_len".cast("double") * lit(1000000.0)).cast("long").as("rq"),
        ($"canon_len" * $"sz" < $"sum_len").as("shorter"))
      .groupBy($"size_bucket")
      .agg(count(lit(1)).as("n_clusters"),
        round(sum($"rq").cast("double") / count(lit(1)).cast("double"))
          .cast("long").as("mean_ratio_q6"),
        sum(when($"shorter", 1L).otherwise(0L)).as("n_shorter"))
  }

  /** q247: dedup survivorship matrix — for every multi-doc near-dup
    * cluster, the canonical's source ABSORBS each other member's
    * source: emit the (canon_source, member_source) matrix of absorbed
    * docs plus each cell's absorbed char mass. The post-dedup mixture
    * accounting q211's symmetric pair counts can't express: q211 says
    * sources A and B duplicate each other, this says WHO KEEPS the doc
    * under the q82 min-doc_id policy — a provider systematically on the
    * losing diagonal contributes near-zero post-dedup mass no matter
    * what the raw mixture table (q54) claims, and the q243 length-bias
    * audit explains whether that's ingest-order artifact or real
    * redundancy. Diagonal cells (self-absorption) are kept: they are
    * the within-source redundancy baseline.
    *
    * Shape: memo-shared star labels + one label-keyed canonical
    * aggregate, a broadcast-sized join back to members, ONE
    * ≤ |sources|²-row aggregate.
    */
  def dedupSurvivorship(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val docs = documents(spark, d).select($"doc_id", $"source", $"n_chars")
    val labeled = dedupLabelsStar(spark, d).join(docs, "doc_id")
    val canon = labeled.groupBy($"label").agg(
        count(lit(1)).as("sz"), min($"doc_id").as("canon_id"))
      .filter($"sz" >= 2L)
      .join(docs.select($"doc_id".as("canon_id"),
        $"source".as("canon_source")), "canon_id")
      .select($"label", $"canon_id", $"canon_source")
    labeled.join(canon, "label")
      .filter($"doc_id" =!= $"canon_id")
      .groupBy($"canon_source", $"source".as("member_source"))
      .agg(count(lit(1)).as("n_absorbed"),
        sum($"n_chars").as("chars_absorbed"))
  }

  def thresholdSweep(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val pairs = jaccardPairs(spark, d).select($"x", $"y", $"jac")
    val taus = (50L to 90L by 5L).toDF("tau_pct")
    val hits = pairs.crossJoin(broadcast(taus))
      .filter($"jac" >= $"tau_pct".cast("double") / lit(100.0))
    val per = hits.groupBy($"tau_pct").agg(count(lit(1)).as("n_pairs"),
      countDistinct($"y").as("n_dominated"))
    val docs = hits.select($"tau_pct", $"x".as("dd"))
      .union(hits.select($"tau_pct", $"y".as("dd")))
      .groupBy($"tau_pct").agg(countDistinct($"dd").as("n_docs"))
    taus.join(per, Seq("tau_pct"), "left").join(docs, Seq("tau_pct"), "left")
      .select($"tau_pct",
        coalesce($"n_pairs", lit(0L)).as("n_pairs"),
        coalesce($"n_dominated", lit(0L)).as("n_dominated"),
        coalesce($"n_docs", lit(0L)).as("n_docs"))
  }
}
