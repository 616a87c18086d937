package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables._
import graft.functions.{Hashing, TextFunctions}

/** Lexical retrieval over the document corpus — the inverted-index
  * ranking family (BM25) a contamination audit, RAG-index eval, or
  * query-driven corpus probe runs against a 100 TB training set.
  *
  * Extends the reference's TF-IDF batch family (`MailTFIDF.java` — see
  * Text.scala:39) from per-document term scoring to full query→document
  * ranked retrieval.
  */
object Retrieval extends graft.core.Memo.Owner {

  /** q116: BM25 top-k retrieval. The q59 "eval:" hash split (5 % of
    * docs) stands in for the query workload; each eval document's
    * distinct clean-token set is a query against the remaining train
    * corpus. Okapi BM25 with k1 = 1.2, b = 0.75:
    *
    *   idf(t)   = log2((N − df + 0.5)/(df + 0.5) + 1)
    *   w(t, d)  = idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * Cross-engine determinism: every input to the per-posting weight is
    * an exact integer (tf, df, dl, N, Σdl — avgdl enters as dl·N/Σdl);
    * the weight is ONE double expression of identical shape in both
    * engines, quantized to a 1e6 integer per (query, term, doc), and
    * document scores are exact integer sums of those (the q77/q107
    * surprisal discipline). Ties rank by doc_id.
    *
    * Scale: the classic inverted-index plan — postings (term → doc, tf)
    * shuffle once on the term key to meet the bounded query-term
    * dictionary (eval sets are MBs; AQE broadcasts it, un-hinted per the
    * round-5 tripScores lesson); candidate volume is Σ_t df(t) over
    * query terms, never |queries|×|corpus|; the per-query top-k window
    * partitions by query_id so the sort is per-group, not global.
    */
  def bm25TopK(spark: SparkSession, d: String, k: Int = 10,
      maxDf: Option[Long] = bm25Ranked.warm): DataFrame = {
    import spark.implicits._
    if (k <= sharedTopK)
      bm25Ranked(spark, d, maxDf).filter($"rank" <= k)
    else {
      val win = Window.partitionBy($"query_id")
        .orderBy($"score_q".desc, $"doc_id")
      bm25Aggregate(spark, bm25Candidates(spark, d, maxDf))
        .withColumn("rank", row_number().over(win).cast("long"))
        .filter($"rank" <= k)
        .select($"query_id", $"doc_id", $"rank", $"score_q")
    }
  }

  /** q182: the `maxDf`-CEILINGED deployment form of q116 — the form a
    * production index actually runs (see `bm25Candidates`' recall
    * contract: the ceiling sheds exactly the lowest-idf query terms).
    * Ceiling = N/`divisor` train docs (df·divisor ≤ N, exact integer
    * comparison mirrored by the DuckDB oracle), N from the memo-shared
    * postings table — one tiny driver action, the q07 eager-scalar
    * shape.
    */
  def bm25TopKCeiled(spark: SparkSession, d: String, k: Int = 10,
      divisor: Long = 10L): DataFrame = {
    import spark.implicits._
    val n = bm25Tf(spark, d).select($"doc_id").distinct().count()
    bm25TopK(spark, d, k, Some(n / divisor))
  }

  /** Both consumers' cut depth: q116 reads the top 10, q125's fusion
    * the top 20 — so the SHARED memo holds the top-`sharedTopK` ranked
    * table (|queries|·20 rows), never the full (query, doc) score
    * table. Round 10 memoized the full ~11 M-row score aggregate; the
    * columnar cache build of that table was most of q116's bench cost
    * (PERF.md, BM25 rework), and no consumer ever read past rank 20 of it.
    * Ranks within the top-20 cut equal global ranks for every rank ≤ 20
    * (the cut preserves the (score DESC, doc_id) prefix per query).
    */
  private val sharedTopK = 20

  /** Exact integer document scores from the candidate stream — one hash
    * aggregate on (query, doc).
    */
  private def bm25Aggregate(spark: SparkSession, cands: DataFrame): DataFrame = {
    import spark.implicits._
    cands.groupBy($"query_id", $"doc_id").agg(sum($"sq").as("score_q"))
  }

  /** The BM25 candidate stream — one row per (query, query-term, posting)
    * hit, carrying the precomputed per-posting weight. Its cardinality IS
    * Σ_t df(t) over the queries' (optionally df-ceilinged) terms — the
    * scale dial of the whole retrieval family, exposed for the
    * RetrievalSpec skew rehearsal to measure directly.
    *
    * `maxDf` is the optional df CEILING on query terms (the Dedup
    * `maxSeedDf` pattern): a saturated term — a stop-word-dense query
    * hitting a term present in half the corpus — otherwise drags in
    * df(t) ≈ N candidates on its own. The recall contract: dropped terms
    * are exactly those with df > maxDf, whose idf — log2((N−df+0.5)/
    * (df+0.5)+1) — is the LOWEST of any query term, so the ceiling
    * removes the least-discriminative contributions first; with
    * maxDf ≥ max df(t) the output is bit-identical to the unceilinged
    * form (RetrievalSpec proves both properties). The ORACLE rung (q116)
    * keeps the ceiling off.
    */
  private[graft] def bm25Candidates(spark: SparkSession, d: String,
      maxDf: Option[Long]): DataFrame = {
    import spark.implicits._
    val isEval =
      pmod(Hashing.md5Bits32(concat(lit("eval:"), $"doc_id".cast("string")), 1),
        lit(100L)) < 5
    val toks = documents(spark, d)
      .select($"doc_id", isEval.as("ev"),
        explode(TextFunctions.cleanTokens($"text")).as("t"))
    val tf = bm25Tf(spark, d)
    val dfT = tf.groupBy($"t").agg(count(lit(1)).as("df"))
    val wtd = bm25Weights(spark, d)
    val qterms = toks.filter($"ev")
      .select($"doc_id".as("query_id"), $"t").distinct()
    // the ceiling prunes the QUERY side before the posting join, so a
    // saturated term never generates its df(t) candidates at all
    val qkept = maxDf match {
      case Some(m) => qterms.join(dfT.filter($"df" <= m).select($"t"), "t")
      case None    => qterms
    }
    wtd.join(broadcast(qkept), "t")
      .select($"query_id", $"t", $"doc_id", $"sq")
  }

  /** The train-split postings table (doc, term, tf) — memo-cached: it
    * feeds FIVE consumers (dl, df, the N/Σdl stats action, the score
    * join, the ceiling's N count) so the tokenize+count pass runs once
    * per session, not once per consumer.
    */
  private[graft] val bm25Tf = shared("bm25tf", cache = true) { (spark, d) =>
    import spark.implicits._
    val isEval =
      pmod(Hashing.md5Bits32(concat(lit("eval:"), $"doc_id".cast("string")), 1),
        lit(100L)) < 5
    documents(spark, d)
      .select($"doc_id", isEval.as("ev"),
        explode(TextFunctions.cleanTokens($"text")).as("t"))
      .filter(!$"ev")
      .groupBy($"doc_id", $"t").agg(count(lit(1)).as("tf"))
  }

  /** Per-posting BM25 weights (t, doc_id, sq), memo-cached AND
    * pre-partitioned by doc_id:
    *  - the cache pins the one evaluation of the double weight chain per
    *    posting (inside one codegen stage the projection fuses into the
    *    query join's consume path and would re-evaluate per CANDIDATE —
    *    ~18× per posting on this corpus, ~5 s measured in PERF.md);
    *  - the doc_id partitioning flows through the broadcast query join
    *    (streamed side), and HashPartitioning(doc_id) satisfies the
    *    (query_id, doc_id) clustering the score aggregate requires —
    *    every candidate row of a (query, doc) pair carries the same
    *    doc_id — so the Σdf(t)-row candidate stream NEVER SHUFFLES: the
    *    only exchanges left are the 1.2 M-posting repartition here and
    *    the per-query top-k over the aggregated pairs.
    * Query-independent, so the ceilinged (q182) and unceilinged (q116)
    * forms share one table (and Bench's warm phase materializes it once,
    * attribution-stable).
    */
  private[graft] val bm25Weights = shared("bm25wtd", cache = true) { (spark, d) =>
    import spark.implicits._
    val tf = bm25Tf(spark, d)
    val dl = tf.groupBy($"doc_id").agg(sum($"tf").as("dl"))
    val dfT = tf.groupBy($"t").agg(count(lit(1)).as("df"))
    // the corpus-constant collect (the q07 eager-scalar shape) runs in
    // the build, so it is paid once per session
    val statsRow = dl.agg(count(lit(1)), sum($"dl")).head()
    val n = statsRow.getLong(0)
    // empty corpus → SUM is NULL; 1 is inert (zero postings score)
    val sumdl = graft.core.Scalars.longAt(statsRow, 1, 1L)
    tf.join(dfT, "t").join(dl, "doc_id")
      .repartition(col("doc_id"))
      .select($"t", $"doc_id",
        round(
          log2(((lit(n) - $"df" + lit(0.5)) / ($"df" + lit(0.5))) + lit(1.0))
            * ($"tf" * lit(2.2))
            / ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75)
                * (($"dl" * lit(n)).cast("double") / lit(sumdl).cast("double"))))
            * lit(1000000.0)).cast("long").as("sq"))
  }

  // warmed unceilinged (q116, q125, q237, q248, q255); q182's ceilinged
  // form keys on a ceiling its own count derives, so only it builds that
  private val bm25Ranked = shared[Option[Long]]("bm25ranked", cache = true,
      None, m => Seq(m.fold("none")(_.toString))) { (spark, d, maxDf) =>
    import spark.implicits._
    // per-query top-20 as the native bounded-heap aggregate (round 12):
    // partial heaps fold the doc_id-partitioned score rows map-side, so
    // the one query shuffle carries ≤ |partitions|·|queries|·20 rows and
    // nothing is ever sorted (the window form sorted every query group)
    Ranks.groupTopK(
        bm25Aggregate(spark, bm25Candidates(spark, d, maxDf)),
        sharedTopK, "rk",
        Seq($"query_id"), struct((-$"score_q").as("__ns"), $"doc_id", $"score_q"))
      .select($"query_id", $"doc_id", $"rk".cast("long").as("rank"), $"score_q")
  }

  /** The eval-split flag on the embedding corpus — vec_id ≡ doc_id, so
    * the same "eval:" md5 bucket that carves BM25's query workload
    * carves the dense side's.
    */
  private def evalFlag(vecId: org.apache.spark.sql.Column) =
    pmod(Hashing.md5Bits32(concat(lit("eval:"), vecId.cast("string")), 1),
      lit(100L)) < 5

  /** Dense eval-query ranking via the Lloyd-trained IVF probe — the
    * DEFAULT pair generator for q125 (round-9 verdict: the brute
    * crossJoin's broadcast side GROWS with the corpus — a
    * BroadcastNestedLoop whose work is |queries|×|corpus|; the IVF
    * candidate join hash-partitions on the list id and touches
    * ~nProbe/nLists of the corpus per query, with nLists ∝ √N as the
    * production dial). Same trained quantizer as q55/q62/q67/q91
    * (lloydCentroids (8, 2) — memo-shared, so the training trajectory
    * runs once per session); corpus vectors go to their exact-L2-nearest
    * list in the scan stage (literal-argsort, no join), eval queries
    * probe their `nProbe` nearest lists, candidates are scored with the
    * exact quantized cosine, top-`kSys` per query by (cos DESC, doc_id).
    *
    * Everything is integer-exact (L2 dists are long sums, the cosine is
    * the shared cosineFromParts parenthesization), so the whole pipeline
    * — training included — is mirrored by the q125 DuckDB oracle, the
    * q55/q67 discipline. Recall vs the brute ranking is asserted in
    * RetrievalSpec (fused-list contract), not assumed.
    */
  def DenseIvfGen(spark: SparkSession, d: String, kSys: Int): DataFrame =
    denseIvf(spark, d, kSys)

  /** `DenseIvfGen` with the deployment blocking dial applied (the
    * semanticDedupScaled / hardNegativesScaled contract): nLists =
    * max(8, N/256) holds the mean list at ~256 vectors, so per-query
    * candidates are constant and total dense-ranking work is linear in
    * the corpus even as the eval-query split grows ∝ N. Drop-in for
    * every `denseGen` parameter (rrfFusion, retrievalAgreement); below
    * the knee it is row-identical to DenseIvfGen (spec law), so the
    * oracle-checked q125/q237/q248 entries keep the static form.
    */
  def DenseIvfScaledGen(spark: SparkSession, d: String, kSys: Int): DataFrame = {
    val n = Similarity.corpusWithNorm(spark, d).count()
    val nLists = math.max(8L, n / 256L).toInt
    denseIvf(spark, d, kSys, nLists,
      tables = Similarity.annTables(spark, nLists))
  }

  private def denseIvf(spark: SparkSession, d: String, kSys: Int,
      nLists: Int = Similarity.IvfLists, nProbe: Int = 4,
      updates: Int = Similarity.IvfUpdates,
      tables: Int = 1): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorFunctions._
    // one scored candidate stream per coarse quantizer; `tables` > 1
    // unions independently-seeded quantizers (the same recall
    // amplification as embeddingNearDupIvf — see Similarity.annTables:
    // a single fine quantizer's recall@k falls with nLists, and the
    // union compounds it back at tables × linear cost). tables = 1 is
    // byte-identical to the pre-amplification plan (no Union, no
    // dedup node).
    val scored = (0 until math.max(1, tables)).map { t =>
      val cents = Similarity.lloydCentroids(spark, d, nLists, updates, t)
      val ranked = Similarity.centRanked(
        Similarity.corpusWithNorm(spark, d)
          .select($"vec_id", $"qemb", $"n2", evalFlag($"vec_id").as("ev")),
        cents, nProbe)
      val corpusSide = ranked.filter(!$"ev")
        .select($"vec_id", $"qemb", $"n2",
          get($"ds", lit(0)).getField("cid").as("list_id"))
      val qp = ranked.filter($"ev")
        .select($"vec_id".as("query_id"), $"qemb".as("qq"), $"n2".as("qn2"),
          explode(transform(slice($"ds", 1, nProbe), p => p.getField("cid")))
            .as("p_list"))
      // equi-join on the list id — hash-partitioned, NEVER a nested
      // loop; within one table each (query, doc) pair meets at most
      // once (docs live in ONE list per quantizer)
      corpusSide.join(qp, $"list_id" === $"p_list")
        .select($"query_id", $"vec_id".as("doc_id"),
          cosineFromParts(dotPreQ($"qq", $"qemb"), $"qn2", $"n2").as("cos"))
    }
    // per-table top-kSys BEFORE the union: the pool's top-k equals the
    // top-k of the union of per-table top-ks (scores are table-
    // independent, so a pool-top-k doc is outranked by < kSys docs in
    // EVERY table containing it — an exact lemma, not a heuristic),
    // and the cross-table exchange then carries |queries|·kSys·R rows
    // instead of every candidate. Cross-table duplicates carry the
    // SAME exact cos (a pure function of the two vectors), so the
    // dedup is value-stable.
    def topk(df: DataFrame): DataFrame = df
      .withColumn("rank", row_number().over(
        Window.partitionBy($"query_id").orderBy($"cos".desc, $"doc_id".asc))
        .cast("long"))
      .filter($"rank" <= kSys)
    val pooled =
      if (tables <= 1) topk(scored.head)
      else topk(scored.map(df => topk(df).drop("rank"))
        .reduce(_ unionByName _)
        .dropDuplicates("query_id", "doc_id"))
    pooled.select($"query_id", $"doc_id", $"rank")
  }

  /** Brute-force dense ranking — the exact/oracle-gold rung kept beside
    * the IVF default (the q55/q63 parameterized-generator pattern): one
    * BroadcastNestedLoop of the eval query set against the corpus scan.
    * Exact, but its broadcast side is PROPORTIONAL to the corpus (5 %
    * eval split) — the declared-quadratic rung, like q25; RetrievalSpec
    * uses it as the recall reference for the IVF default.
    */
  def DenseBruteGen(spark: SparkSession, d: String, kSys: Int): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorFunctions._
    val emb = Similarity.corpusWithNorm(spark, d)
      .withColumn("ev", evalFlag($"vec_id"))
    val queries = emb.filter($"ev")
      .select($"vec_id".as("query_id"), $"qemb".as("qq"), $"n2".as("qn2"))
    emb.filter(!$"ev")
      .crossJoin(broadcast(queries))
      .select($"query_id", $"vec_id".as("doc_id"),
        cosineFromParts(dotPreQ($"qq", $"qemb"), $"qn2", $"n2").as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"query_id").orderBy($"cos".desc, $"doc_id".asc))
        .cast("long"))
      .filter($"rank" <= kSys)
      .select($"query_id", $"doc_id", $"rank")
  }

  /** q125: reciprocal-rank fusion (Cormack et al., SIGIR 2009) of the
    * two retrieval systems this engine exposes — q116's lexical BM25 and
    * a dense embedding-cosine ranking — over the SAME eval-split query
    * workload (vec_id ≡ doc_id across `documents`/`embeddings`). Each
    * system contributes its top-`kSys` list; a hit at rank r is worth
    * ⌊10¹²/(c + r)⌋ — the classic 1/(60+r) fused INTEGER-EXACTLY via
    * integer division, so fused scores are exact integer sums in both
    * engines (no FP summation order to pin). Final ranking: top-`k` per
    * query by (rrf DESC, doc_id ASC).
    *
    * Scale: the BM25 side is q116's inverted-index plan (memo-shared tf
    * table); the dense side is PARAMETERIZED over the ranking generator
    * — default `DenseIvfGen` (hash-partitioned IVF probe, sub-quadratic;
    * mirrored by the oracle), with `DenseBruteGen` as the exact rung;
    * fusion itself is one hash aggregate on (query, doc) and a per-query
    * top-k window — both keyed on the query id, no global sort.
    */
  def rrfFusion(spark: SparkSession, d: String, k: Int = 10,
      kSys: Int = 20, c: Int = 60,
      denseGen: (SparkSession, String, Int) => DataFrame = DenseIvfGen): DataFrame = {
    import spark.implicits._
    val bm = bm25TopK(spark, d, kSys).select($"query_id", $"doc_id", $"rank")
    val dense = denseGen(spark, d, kSys)
    val fused = bm.unionByName(dense)
      .select($"query_id", $"doc_id",
        expr(s"1000000000000 div ($c + rank)").as("rc"))
      .groupBy($"query_id", $"doc_id").agg(sum($"rc").as("rrf"))
    fused.withColumn("rank", row_number().over(
        Window.partitionBy($"query_id").orderBy($"rrf".desc, $"doc_id".asc))
        .cast("long"))
      .filter($"rank" <= k)
      .select($"query_id", $"doc_id", $"rrf", $"rank")
  }

  /** q248: lexical-vs-dense retrieval agreement — per eval query, the
    * overlap of BM25's and the exact dense arm's top-k sets, summarized
    * at k ∈ {5, 10, 20}: mean overlap@k, plus the count of queries
    * where the two retrievers are fully DISJOINT. The audit behind
    * q125's fusion: RRF only helps where the arms disagree (a mean
    * overlap near 1 says dense re-ranks what lexical already found —
    * drop the second index), while a large disjoint count says each arm
    * is the other's blind spot and fusion is load-bearing — q215 makes
    * this exact argument for the dup detectors, this makes it for the
    * retrievers. Dense arm = `DenseBruteGen`, the exact rung (the
    * deployed IVF arm's recall vs this truth is q192's sweep — keeping
    * the audit on the exact arm separates modality disagreement from
    * ANN approximation error). Base query set = the lexical arm's
    * (token-bearing eval docs); dense answers every query by
    * construction.
    *
    * Exactness: overlaps are exact integer set intersections off the
    * two rank tables; the one division per k is the final mean.
    * Shape: both rank tables are memo-shared; the agreement join is
    * (query, doc)-keyed over |queries|·20-row tables — audit-sized.
    */
  def retrievalAgreement(spark: SparkSession, d: String,
      ks: Seq[Int] = Seq(5, 10, 20)): DataFrame = {
    import spark.implicits._
    val lex = bm25TopK(spark, d, sharedTopK)
      .select($"query_id", $"doc_id", $"rank")
    val dense = DenseBruteGen(spark, d, sharedTopK)
      .select($"query_id", $"doc_id", $"rank".as("drank"))
    val both = lex.join(dense, Seq("query_id", "doc_id"))
    // base = every token-bearing eval doc (the oracle's
    // `SELECT DISTINCT query_id FROM q`), NOT the BM25 rank table's
    // query set: an eval query whose clean tokens never hit the train
    // postings gets zero lexical candidates but must still count in
    // n_queries/n_disjoint (ADVICE round 12 — the fixture vocab is
    // saturated enough that the two sets coincide there, but sparser
    // corpora diverge)
    val isEval =
      pmod(Hashing.md5Bits32(concat(lit("eval:"), $"doc_id".cast("string")), 1),
        lit(100L)) < 5
    val base = documents(spark, d)
      .filter(isEval)
      .filter(size(TextFunctions.cleanTokens($"text")) > 0)
      .select($"doc_id".as("query_id"))
      .select($"query_id", explode(typedLit(ks.map(_.toLong))).as("k"))
    val perQ = both
      .select($"query_id", explode(typedLit(ks.map(_.toLong))).as("k"),
        $"rank", $"drank")
      .groupBy($"query_id", $"k")
      .agg(sum(when($"rank" <= $"k" && $"drank" <= $"k", 1L).otherwise(0L))
        .as("ov"))
    base.join(perQ, Seq("query_id", "k"), "left")
      .select($"k", coalesce($"ov", lit(0L)).as("ov"))
      .groupBy($"k").agg(count(lit(1)).as("n_queries"),
        sum(when($"ov" === 0L, 1L).otherwise(0L)).as("n_disjoint"),
        sum($"ov").as("sum_overlap"))
      .select($"k", $"n_queries", $"n_disjoint", $"sum_overlap",
        round($"sum_overlap".cast("double")
          / ($"n_queries" * $"k").cast("double") * lit(1000000.0))
          .cast("long").as("mean_overlap_q6"))
  }

  /** q237: retrieval evaluation harness — recall@k and MRR@k of the
    * BM25 index (q116's ranked table, train-only corpus) against
    * lexical near-dup ground truth: an eval query's RELEVANT documents
    * are its q183 contamination partners (train docs Jaccard-≥0.5-
    * near-dup to it) — "can the index find the documents we already
    * know match?". The missing piece between building a retriever
    * (q116/q125/q155) and TRUSTING it: the number a pipeline gates an
    * index rollout on, and the lexical analogue of q192's IVF recall
    * sweep. MRR uses first-relevant rank with misses contributing 0,
    * cut at the shared top-20.
    *
    * Exactness: reciprocal ranks are exact integers (1e6 div r — no FP
    * anywhere until the two final mean divisions, both mirrored);
    * ground truth rides the memo-shared pair ladder (LSH generator,
    * recall-1 contract vs exact Jaccard), rankings the memo-shared
    * bm25ranked top-20.
    *
    * Shape: truth pairs are dup-density-bounded, the rank join is
    * |truth|-sized, and the metric table is ONE aggregate over
    * |eval queries with truth| × |ks| rows — everything downstream of
    * the two memos is audit-sized.
    */
  def retrievalEval(spark: SparkSession, d: String,
      ks: Seq[Int] = Seq(1, 5, 10, 20)): DataFrame = {
    import spark.implicits._
    val truth = graft.operators.Dedup
      .evalContaminationEdges(spark, d, 0.5,
        graft.operators.Dedup.MinhashLshGen)
      .select($"eval_doc".as("query_id"), $"train_doc".as("doc_id"))
      .distinct()
    val ranked = bm25TopK(spark, d, sharedTopK)
      .select($"query_id", $"doc_id", $"rank")
    val firstRel = truth.join(ranked, Seq("query_id", "doc_id"))
      .groupBy($"query_id").agg(min($"rank").as("r"))
    val pq = truth.select($"query_id").distinct()
      .join(firstRel, Seq("query_id"), "left")
    pq.select($"r", explode(typedLit(ks.map(_.toLong))).as("k"))
      .groupBy($"k").agg(
        count(lit(1)).as("n_queries"),
        sum(when($"r".isNotNull && $"r" <= $"k", 1L).otherwise(0L))
          .as("n_hit"),
        sum(when($"r".isNotNull && $"r" <= $"k",
          expr("1000000L div r")).otherwise(0L)).as("rr_sum"))
      .select($"k", $"n_queries", $"n_hit",
        round($"n_hit".cast("double") / $"n_queries".cast("double")
          * lit(1000000.0)).cast("long").as("recall_q6"),
        round($"rr_sum".cast("double") / $"n_queries".cast("double"))
          .cast("long").as("mrr_q6"))
  }
}
