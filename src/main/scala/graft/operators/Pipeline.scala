package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables._
import graft.functions.TextFunctions._

/** The capstone composite: a complete corpus-curation pipeline — what
  * this engine exists to run at 100 TB — as one declarative plan:
  *
  *   1. quality gate: keep docs with ≥ 30 whitespace tokens;
  *   2. exact dedup: canonical = min doc_id per md5 content fingerprint;
  *   3. near-dup removal: drop the higher-id side of every 3-gram
  *      Jaccard ≥ 0.5 pair — the pair generator is a parameter and
  *      DEFAULTS to the scale path (Dedup.minhashLsh: band-bucketed
  *      candidates, exact re-check); pass Dedup.jaccardPairs for the
  *      exact-gold form;
  *   4. emit the curated per-language doc counts and BPE token budget.
  *
  * Every stage reuses an independently-oracle-verified operator; the
  * composed DuckDB oracle re-derives the whole pipeline from scratch.
  * Catalyst sees one plan: the quality filter pushes into the scan, the
  * near-dup anti-join strategy is left to the planner/AQE (the loser set
  * is O(near-dup docs) — sparse, but not provably broadcastable at
  * 100 TB), and the final aggregate is the only wide shuffle.
  */
object Pipeline {

  def curateCorpus(spark: SparkSession, d: String,
      minTokens: Int = 30, jaccardThreshold: Double = Dedup.DupThreshold,
      pairGen: (SparkSession, String, Double) => DataFrame = Dedup.MinhashLshGen): DataFrame = {
    import spark.implicits._
    val docs = documents(spark, d)
      .select($"doc_id", $"lang", tokens($"text").as("ws"),
        md5Fingerprint($"text").as("fp"))
      .filter(size($"ws") >= minTokens)
    // exact dedup: keep the smallest doc_id of each identical-content group
    val canonical = docs.groupBy($"fp").agg(min($"doc_id").as("keep_id"))
    val exactKept = docs.join(canonical, docs("doc_id") === canonical("keep_id"))
      .select($"doc_id", $"lang", $"ws")
    // near-dup removal: drop the y side of every near-dup pair
    val nearDupLosers = pairGen(spark, d, jaccardThreshold)
      .select($"y".as("doc_id")).distinct()
    val curated = exactKept.join(nearDupLosers, Seq("doc_id"), "left_anti")
    curated
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        tokenSumAgg($"ws").as("bpe_tokens"))
  }

  /** Σ over docs of Σ over tokens of ceil(len/4) — exact long math. */
  private def tokenSumAgg(ws: org.apache.spark.sql.Column) =
    sum(aggregate(ws, lit(0L), (acc, t) => acc + bpePieces(t).cast("long")))

  /** q146: the training MANIFEST — the denormalized per-document record
    * a downstream trainer actually consumes, assembled from four
    * independently-oracle-verified signals in one plan: the q52 hash
    * split, the q136 quality decile, the q32 near-dup cluster label, and
    * the embedding's class label (vec_id ≡ doc_id). The capstone
    * composition: every column's derivation is pinned elsewhere; this
    * query pins that they JOIN coherently into one output.
    *
    * Scale: split and decile are scan-stage/one-window derivations; the
    * cluster labels ride the memoized propagation; the three joins are
    * all on doc_id — co-partitioned after the first shuffle, and AQE
    * broadcasts the small derived sides where estimates allow.
    */
  def trainingManifest(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val split = Sampling.hashSplit(spark, d).select($"doc_id", $"split")
    val qr = Text.qualityRank(spark, d).select($"doc_id", $"decile")
    val clusters = Dedup.dedupLabels(spark, d)
      .select($"doc_id", $"label".as("cluster_id"))
    val emb = embeddings(spark, d)
      .select($"vec_id".as("doc_id"), $"label".as("emb_label"))
    documents(spark, d)
      .select($"doc_id", $"lang", $"source", $"n_chars")
      .join(split, "doc_id")
      .join(qr, "doc_id")
      .join(clusters, "doc_id")
      .join(emb, Seq("doc_id"), "left")
  }

  /** q149: the INCREMENTAL manifest — the batch projection (q47/q48/q92
    * pattern) of the streaming manifest twin's join+fallback contract
    * (streaming/CurationStream.ManifestProcessor): arriving documents
    * join the per-doc manifest STATE the last batch build materialized;
    * a doc the state does not cover — here the deterministic 10 %
    * "arrived since the last build" md5 bucket, the q71 incremental-
    * dedup discipline — takes the arrival-time fallbacks:
    *
    *   - split: from its OWN doc-id hash (the q52 rule is stateless
    *     per-doc, so it is computable at arrival and agrees with what
    *     the next batch build will assign — membership never drifts);
    *   - decile: NULL (a within-language percentile needs corpus
    *     context; the next build fills it);
    *   - cluster_id: itself (a singleton until the next propagation);
    *   - emb_label: NULL (not yet embedded);
    *
    * plus an is_new flag so downstream consumers can gate on catalog
    * coverage. The processor is agnostic to HOW the state was built —
    * this projection pins the join+fallback semantics against the
    * oracle, and CurationStreamSpec pins state ≡ batch (the streamed
    * arrivals reproduce exactly these rows micro-batch-split-
    * independently).
    *
    * Scale: the state is a doc_id-keyed table (state-store-backed in the
    * streaming form); the projection is one left join on doc_id plus
    * scan-stage hash math — no new shuffles beyond the manifest's own.
    */
  def incrementalManifestBatch(spark: SparkSession, d: String,
      knownPct: Int = 90): DataFrame = {
    import spark.implicits._
    import graft.functions.Hashing
    def bucketOf(c: org.apache.spark.sql.Column, salt: String) =
      pmod(Hashing.md5Bits32(concat(lit(salt), c.cast("string")), 1), lit(100L))
    val known = trainingManifest(spark, d)
      .filter(bucketOf($"doc_id", "incr:") < knownPct)
      .select($"doc_id", $"split".as("k_split"), $"decile".as("k_decile"),
        $"cluster_id".as("k_cluster"), $"emb_label".as("k_emb"),
        lit(true).as("known"))
    val sbk = bucketOf($"doc_id", "split:")
    documents(spark, d)
      .select($"doc_id", $"lang", $"source", $"n_chars")
      .join(known, Seq("doc_id"), "left")
      .select($"doc_id", $"lang", $"source", $"n_chars",
        coalesce($"k_split",
          when(sbk < 80, "train").when(sbk < 90, "validation")
            .otherwise("test")).as("split"),
        $"k_decile".as("decile"),
        coalesce($"k_cluster", $"doc_id").as("cluster_id"),
        $"k_emb".as("emb_label"),
        (!coalesce($"known", lit(false))).as("is_new"))
  }
}
