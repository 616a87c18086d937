package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Lineage
import graft.core.Lineage.CutOps
import graft.core.Tables._
import graft.functions.TextFunctions._

/** Text-analysis operators over the `documents` table — the reference's
  * mail-corpus batch family (MailTFIDF, MailCount tokenizing flatMaps)
  * plus the training-data-pipeline text ops (language ID, quality scoring,
  * token budgeting, fingerprinting).
  *
  * Scale design: tokenization is all higher-order column functions
  * evaluated in the scan stage; the only shuffles are the group-bys on
  * (doc_id, word) / word. The word dictionary after stop-wording is tiny
  * relative to the corpus, so DF-side joins are broadcast — the TF side
  * (the big one) never moves twice.
  */
object Text extends graft.core.Memo.Owner {

  /** Tokenized view shared by the operators: (doc_id, ws[]), memo-cached
    * once per session+dir (tfIdf runs two actions over it).
    */
  private[graft] val tokenized = shared("cleanTokenized", cache = true) { (spark, d) =>
    import spark.implicits._
    documents(spark, d).select($"doc_id", cleanTokens($"text").as("ws"))
  }

  /** (w, c) corpus vocabulary counts — memo-cached: surprisal,
    * rankedVocab, interpSurprisal and dsirWeights all fold over this
    * one tokenize+count pass (vocab-sized, so the cache is corpus-
    * sublinear).
    */
  private[graft] val vocabCounts = shared("vocabCounts", cache = true) { (spark, d) =>
    import spark.implicits._
    documents(spark, d).select($"doc_id", explode(tokens($"text")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("c"))
  }

  /** TF-IDF with the reference's exact no-logarithm formula
    * tf * (N / df) (dataset_java/tf_idf/MailTFIDF.java:214-233; SURVEY
    * §7.4.2). Mirrors the reference's two-action lifecycle: `count()` is a
    * separate job whose scalar is closed over (MailTFIDF.java:74), with
    * the one deliberate improvement of caching the tokenized input
    * (SURVEY §3.2). The DF side is broadcast (it is bounded by vocabulary
    * size); the TF aggregation is the single fact shuffle.
    */
  def tfIdf(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val toks = tokenized(spark, d)
    val n = toks.count() // eager scalar, reference A3 shape
    val exploded = toks.select($"doc_id", explode($"ws").as("word"))
    val tf = exploded.groupBy($"doc_id", $"word").agg(count(lit(1)).as("tf"))
    val df = exploded.select($"doc_id", $"word").distinct()
      .groupBy($"word").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), "word")
      .select($"doc_id", $"word", ($"tf" * (lit(n.toDouble) / $"df")).as("tfidf"))
  }

  /** Document frequency per word (MailTFIDF.java:77-81 A2 shape). */
  def docFrequency(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    tokenized(spark, d)
      .select($"doc_id", explode($"ws").as("word"))
      .distinct()
      .groupBy($"word").agg(count(lit(1)).as("df"))
  }

  /** Stopword-profile language ID: score each language by marker-word
    * hits, argmax with deterministic tie-break (count desc, lang asc),
    * 'und' when nothing matches. The marker table is a literal inline
    * relation — broadcast, never shuffled.
    */
  // memo-cached (r17): q17 emits it and q186's confusion audit re-reads
  // it — without the cache the token explode + marker join + argmax
  // ran once per consumer
  val langId = shared("langId", cache = true) { (spark, d) =>
    import spark.implicits._
    val markers = LangMarkers
      .flatMap { case (lang, ws) => ws.map(w => (lang, w)) }
      .toDF("mlang", "w")
    val toks = documents(spark, d)
      .select($"doc_id", explode(tokens($"text")).as("w"))
    val scores = toks.join(broadcast(markers), "w")
      .groupBy($"doc_id", $"mlang").agg(count(lit(1)).as("c"))
    val best = scores
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id").orderBy($"c".desc, $"mlang".asc)))
      .filter($"rn" === 1)
      .select($"doc_id", $"mlang", $"c")
    documents(spark, d).select($"doc_id")
      .join(best, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"mlang", lit("und")).as("lang_pred"),
        coalesce($"c", lit(0L)).as("n_markers"))
  }

  /** q186: language-ID confusion audit — q17's marker heuristic judged
    * against the corpus's labeled `lang`: per (label, predicted) doc
    * counts, each cell's exact 1e6 share of its label's population, and
    * the diagonal flag. The eval table that decides where the heuristic
    * is trustworthy enough to gate on — an off-diagonal hot cell is a
    * marker list to fix BEFORE q53's strata or q136's calibration trust
    * the `lang` column of an unlabeled crawl.
    *
    * Scale: rides q17's prediction (a broadcast marker join + per-doc
    * argmax); the matrix is a ≤ |langs|·(|langs|+1) aggregate and the
    * label totals broadcast.
    */
  def langIdConfusion(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val cells = documents(spark, d).select($"doc_id", $"lang")
      .join(langId(spark, d).select($"doc_id", $"lang_pred"), "doc_id")
      .groupBy($"lang".as("label"), $"lang_pred".as("predicted"))
      .agg(count(lit(1)).as("n_docs"))
    val totals = cells.groupBy($"label").agg(sum($"n_docs").as("n_label"))
    cells.join(broadcast(totals), "label")
      .select($"label", $"predicted", $"n_docs",
        expr("n_docs * 1000000L div n_label").as("share_q6"),
        ($"label" === $"predicted").as("correct"))
  }

  /** Per-document quality scores: token counts, stop-word ratio, mean
    * token length — the length/punct/stopword-ratio heuristics of large
    * corpus filtering. The four counters come from ONE native byte scan
    * per row (`plans.QualityCountersExpr` — no interpreted HOF passes,
    * no shuffle: embarrassingly parallel over the scan); the HOF chain
    * is kept as `qualityScoreHof`, the spec's equality reference.
    */
  def qualityScore(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    documents(spark, d)
      .select($"doc_id",
        graft.plans.QualityCountersOps.qualityCounters($"text").as("qc"))
      .select(
        $"doc_id",
        $"qc.n_tokens".as("n_tokens"),
        $"qc.n_stop".as("n_stop"),
        $"qc.n_alpha".as("n_alpha"),
        ($"qc.n_stop".cast("double") / $"qc.n_tokens").as("stop_ratio"),
        ($"qc.sum_tok_len".cast("double") / $"qc.n_tokens").as("mean_tok_len"),
        ($"qc.n_alpha".cast("double") / $"qc.n_tokens").as("alpha_ratio"))
  }

  /** The composed-builtin HOF form of `qualityScore` — the directly-
    * oracle-shaped rung and QualityCountersExprSpec's equality
    * reference.
    */
  private[graft] def qualityScoreHof(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val stop = typedLit(StopWords)
    documents(spark, d)
      .select($"doc_id", tokens($"text").as("ws"))
      .select(
        $"doc_id",
        size($"ws").cast("long").as("n_tokens"),
        size(filter($"ws", t => array_contains(stop, t))).cast("long").as("n_stop"),
        size(filter($"ws", t => t.rlike("\\A[a-z]+\\z"))).cast("long").as("n_alpha"),
        tokenSum($"ws", length(_)).as("sum_tok_len"))
      .select(
        $"doc_id", $"n_tokens", $"n_stop", $"n_alpha",
        ($"n_stop".cast("double") / $"n_tokens").as("stop_ratio"),
        ($"sum_tok_len".cast("double") / $"n_tokens").as("mean_tok_len"),
        ($"n_alpha".cast("double") / $"n_tokens").as("alpha_ratio"))
  }

  /** Token-budget stats: whitespace token count + BPE-ish subword piece
    * budget (ceil(len/4) per word).
    */
  def tokenStats(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    documents(spark, d)
      .select($"doc_id", tokens($"text").as("ws"))
      .select(
        $"doc_id",
        size($"ws").cast("long").as("ws_tokens"),
        tokenSum($"ws", bpePieces).as("bpe_tokens"))
  }

  /** Content fingerprint: md5 over whitespace-normalized lowercase text
    * (cross-engine form; the rolling-hash form is
    * TextFunctions.rollingFingerprint, test-verified).
    */
  def fingerprint(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    documents(spark, d).select($"doc_id", md5Fingerprint($"text").as("fp"))
  }

  /** Rolling-hash fingerprint (order-sensitive polynomial hash over the
    * clean token stream). Built on md5-derived token hashes since round 2,
    * so the q27 oracle replays the exact fold as a DuckDB list_reduce;
    * order sensitivity is property-tested in DedupSimilaritySpec.
    */
  def rollingFp(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    documents(spark, d)
      .select($"doc_id", rollingFingerprint(cleanTokens($"text")).as("rolling_fp"))
  }

  /** Text normalization: lowercase, whitespace-collapse, and collapse
    * runs of ADJACENT duplicate tokens ("table table part" → "table
    * part") — the cheap, order-preserving cleanup pass a crawl corpus
    * gets before dedup (repeated-boilerplate stutter). Pure scan-stage
    * column math: the positional `filter` HOF keeps token i iff it
    * differs from token i-1, then re-joins. No shuffle at all.
    */
  def normalizeAdjacent(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    documents(spark, d)
      .select($"doc_id", tokens($"text").as("ws"))
      .select($"doc_id", $"ws",
        filter($"ws", (t, i) =>
          i === lit(0) || element_at($"ws", i) =!= t).as("kept"))
      .select($"doc_id",
        array_join($"kept", " ").as("norm_text"),
        (size($"ws") - size($"kept")).cast("long").as("n_collapsed"))
  }

  /** Gopher-style repetition signals per document: top-token fraction,
    * fraction of token occurrences whose token repeats, and the same for
    * adjacent bigrams — the standard "repetitious document" quality
    * gates of large-corpus filtering (Rae et al. 2021, see PAPERS.md).
    *
    * Scale: two (doc_id, gram) count aggregations — each one shuffle,
    * map-side combined, key cardinality ∝ corpus tokens. Ratios are
    * exact-integer divisions done identically by the oracle.
    */
  def repetitionStats(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val toks = documents(spark, d).select($"doc_id", tokens($"text").as("ws"))
    val tokCounts = toks.select($"doc_id", explode($"ws").as("w"))
      .groupBy($"doc_id", $"w").agg(count(lit(1)).as("c"))
    val tokStats = tokCounts.groupBy($"doc_id").agg(
      sum($"c").as("n"), max($"c").as("maxc"),
      sum(when($"c" > 1, $"c").otherwise(0L)).as("dupc"))
    // adjacent bigrams, duplicates preserved: positions 1..len-1 (1-based)
    val bigrams = toks.select($"doc_id",
      when(size($"ws") >= 2,
        transform(sequence(lit(1), size($"ws") - 1),
          i => concat_ws(" ", element_at($"ws", i), element_at($"ws", i + 1))))
      .otherwise(array().cast("array<string>")).as("bg"))
    val bgCounts = bigrams.select($"doc_id", explode($"bg").as("b"))
      .groupBy($"doc_id", $"b").agg(count(lit(1)).as("c"))
    val bgStats = bgCounts.groupBy($"doc_id").agg(
      sum($"c").as("bn"), sum(when($"c" > 1, $"c").otherwise(0L)).as("bdup"))
    tokStats.join(bgStats, Seq("doc_id"), "left").select(
      $"doc_id",
      $"n".cast("long").as("n_tokens"),
      ($"maxc".cast("double") / $"n").as("top_token_frac"),
      ($"dupc".cast("double") / $"n").as("dup_token_frac"),
      coalesce($"bdup".cast("double") / $"bn", lit(0.0)).as("dup_bigram_frac"))
  }

  /** First BPE-training step: corpus-weighted counts of adjacent
    * character pairs. Words are counted once (the word-frequency table is
    * the classic BPE compression trick — pair counts are Σ over distinct
    * words of freq × in-word occurrences), then each distinct word fans
    * out into its length−1 overlapping 2-char substrings.
    *
    * Scale: the word-frequency aggregation is the only corpus shuffle
    * (map-side combined, key space = vocabulary); the pair explode and
    * final aggregate run over the vocabulary, which is corpus-sublinear
    * by Heaps' law. Iterating merges would re-run this over a
    * symbol-array column — each merge step is the same one-aggregate
    * shape.
    */
  def bpePairCounts(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val wordFreq = documents(spark, d)
      .select(explode(tokens($"text")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("n"))
    wordFreq.filter(length($"w") >= 2)
      .select($"n", explode(transform(
        sequence(lit(1), length($"w") - 1),
        i => $"w".substr(i, lit(2)))).as("pair"))
      .groupBy($"pair").agg(sum($"n").as("cnt"))
  }

  /** The BPE TRAINING LOOP — `nMerges` full merge steps over the corpus
    * word-frequency table (the iterative extension of `bpePairCounts`,
    * whose scaladoc sketches exactly this shape): each step counts
    * corpus-weighted adjacent symbol pairs, picks the most frequent pair
    * (count desc, then left/right symbol asc — the q05 tie-break
    * pattern), and applies the merge to every word left-to-right
    * non-overlapping. Output is the merge trajectory
    * (step, lsym, rsym, merged, cnt) — the learned vocabulary additions.
    *
    * Words are '|'-framed symbol strings ("abc" → "|a||b||c|"), so one
    * merge step is ONE literal string `replace` — and "scan left-to-right,
    * consume non-overlapping matches" is precisely the replace contract
    * both engines share, making the whole trajectory engine-independent
    * (the DuckDB oracle unrolls the same steps as chained CTEs, the q62
    * trajectory pattern). Only [a-z]+ words train (standard BPE
    * pre-tokenization; also what makes the '|' frame collision-free).
    *
    * Scale: the word-frequency aggregation is the only corpus shuffle;
    * each merge step is a vocabulary-sized aggregate (map-side combined,
    * corpus-sublinear by Heaps' law) plus a single-row argmax collect —
    * the driver holds one (pair, count) row per step, the lloydCentroids
    * trajectory shape.
    *
    * Iterative-refinement precedent in the reference:
    * gelly_java/PageRankWithEdgeWeights.java:103-104.
    */
  /** Memoized BPE training trajectory — q79 emits it, q94 (`bpeEncode`)
    * and q154 (`tokenizerFertility`) apply it: one training loop per
    * session feeds all three.
    */
  val bpeTrained = shared("bpeMerges", cache = true, 3)(bpeTrain)

  /** BPE ENCODE — apply the trained merge trajectory to segment every
    * eligible word ([a-z]{2,}, the training filter) of every document,
    * reporting per-doc word/piece counts and mean pieces-per-word (the
    * fertility statistic tokenizer work tracks). Applying merge j is the
    * IDENTICAL string transform the trainer applies to its word table
    * between steps (left-to-right non-overlapping replace on the
    * symbol-delimited form), so encode∘train is self-consistent by
    * construction — the spec asserts the trainer's step-3 pair counts
    * are reproduced by re-counting pairs on encoded output.
    *
    * Scale: merges collect ONE ROW PER STEP (the bpeTrain shape); encode
    * is a scan-stage chain of `nMerges` literal replaces — no join, no
    * shuffle before the (doc_id) aggregate. A production vocab is 10⁴⁻⁵
    * merges, where the chain becomes a trie/loop inside one expression —
    * same plumbing, the per-merge-literal form is the small-n rung.
    */
  def bpeEncode(spark: SparkSession, d: String,
      nMerges: Int = bpeTrained.warm): DataFrame = {
    import spark.implicits._
    val merges = graft.core.Bounded.collect(
      bpeTrained(spark, d, nMerges).orderBy($"step"),
      nMerges.toLong, "bpeEncode merge table (nMerges rows)")
    val words = documents(spark, d)
      .select($"doc_id", explode(tokens($"text")).as("w"))
      .filter($"w".rlike("\\A[a-z]+\\z") && length($"w") >= 2)
    var enc: Column = regexp_replace($"w", "(.)", "|$1|")
    merges.foreach { r =>
      val (l, rr) = (r.getString(1), r.getString(2))
      enc = replace(enc, lit(s"|$l||$rr|"), lit(s"|$l$rr|"))
    }
    val perDoc = words.select($"doc_id", enc.as("s"))
      .select($"doc_id",
        ((length($"s") - length(replace($"s", lit("||"), lit("")))) / 2 + 1)
          .cast("long").as("pieces"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bpe_words"), sum($"pieces").as("n_pieces"))
    documents(spark, d).select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_bpe_words", lit(0L)).as("n_bpe_words"),
        coalesce($"n_pieces", lit(0L)).as("n_pieces"),
        coalesce($"n_pieces".cast("double") / $"n_bpe_words".cast("double"), lit(0.0))
          .as("mean_pieces"))
  }

  /** q154: tokenizer fertility audit — the multilingual-fairness check
    * on the TRAINED tokenizer (q79's BPE): per language, exact word /
    * character / piece counts under the q94 encode, and the two ratios
    * tokenizer work tracks — fertility (pieces per word: how many
    * subwords the tokenizer spends on a language's average word) and
    * compression (characters per piece). A language with materially
    * higher fertility pays a "token tax" — fewer effective characters
    * per context window and per training FLOP — which is exactly the
    * inequity a corpus datasheet must surface before mixing weights are
    * chosen (q54/q101 consume these counts' implications).
    *
    * Determinism: counts are exact integers off the SAME encode chain
    * as q94 (merge trajectory memo-shared, one training loop per
    * session); the two ratios are single double divisions.
    *
    * Scale: the encode is a scan-stage chain of literal replaces; the
    * only shuffle is the |languages|-row aggregate with map-side
    * combine.
    */
  def tokenizerFertility(spark: SparkSession, d: String,
      nMerges: Int = bpeTrained.warm): DataFrame = {
    import spark.implicits._
    val merges = graft.core.Bounded.collect(
      bpeTrained(spark, d, nMerges).orderBy($"step"),
      nMerges.toLong, "tokenizerFertility merge table (nMerges rows)")
    val words = documents(spark, d)
      .select($"doc_id", $"lang", explode(tokens($"text")).as("w"))
      .filter($"w".rlike("\\A[a-z]+\\z") && length($"w") >= 2)
    var enc: Column = regexp_replace($"w", "(.)", "|$1|")
    merges.foreach { r =>
      val (l, rr) = (r.getString(1), r.getString(2))
      enc = replace(enc, lit(s"|$l||$rr|"), lit(s"|$l$rr|"))
    }
    words
      .select($"lang", length($"w").cast("long").as("wlen"), enc.as("s"))
      .select($"lang", $"wlen",
        ((length($"s") - length(replace($"s", lit("||"), lit("")))) / 2 + 1)
          .cast("long").as("pieces"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_words"),
        sum($"wlen").as("n_chars"),
        sum($"pieces").as("n_pieces"))
      .select($"lang", $"n_words", $"n_chars", $"n_pieces",
        ($"n_pieces".cast("double") / $"n_words".cast("double")).as("fertility"),
        ($"n_chars".cast("double") / $"n_pieces".cast("double")).as("chars_per_piece"))
  }

  def bpeTrain(spark: SparkSession, d: String, nMerges: Int): DataFrame = {
    import spark.implicits._
    var words = documents(spark, d)
      .select(explode(tokens($"text")).as("w"))
      .filter($"w".rlike("\\A[a-z]+\\z") && length($"w") >= 2)
      .groupBy($"w").agg(count(lit(1)).as("n"))
      .select(regexp_replace($"w", "(.)", "|$1|").as("s"), $"n")
      .cache()
    // every step's word table is cached for the next step's scan and
    // released once the trajectory is collected
    val cached = scala.collection.mutable.ArrayBuffer(words)
    val steps = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var exhausted = false
    try for (j <- 1 to nMerges if !exhausted) {
      val sy = split($"s".substr(lit(2), length($"s") - 2), "\\|\\|")
      val pc = words
        .select($"n", sy.as("sy"))
        .select($"n", explode(transform(sequence(lit(1), size($"sy") - 1),
          i => struct(element_at($"sy", i).as("l"),
            element_at($"sy", i + 1).as("r")))).as("p"))
        .groupBy($"p.l".as("lsym"), $"p.r".as("rsym"))
        .agg(sum($"n").as("cnt"))
      val stepRow = pc.orderBy($"cnt".desc, $"lsym".asc, $"rsym".asc).limit(1)
        .select(lit(j.toLong).as("step"), $"lsym", $"rsym",
          concat($"lsym", $"rsym").as("merged"), $"cnt")
      // driver-bounded: at most one (pair, count) row crosses per step.
      // headOption: a corpus with no [a-z]{2,} words — or whose words all
      // collapse to single symbols before nMerges steps — simply ends the
      // merge trajectory early instead of throwing on an empty pair table
      stepRow.collect().headOption match {
        case Some(best) =>
          val (l, r) = (best.getString(1), best.getString(2))
          steps += ((j.toLong, l, r, best.getString(3), best.getLong(4)))
          words = words.select(
            replace($"s", lit(s"|$l||$r|"), lit(s"|$l$r|")).as("s"), $"n").cache()
          cached += words
        case None => exhausted = true
      }
    } finally cached.foreach(_.unpersist())
    steps.toSeq.toDF("step", "lsym", "rsym", "merged", "cnt")
  }

  /** PII scan + redaction: per-document counts of email / phone / SSN /
    * IPv4 pattern matches and the length of the redacted text — the
    * privacy-filtering pass of a corpus pipeline. Pure scan-stage regex
    * column math, no shuffle; patterns live in TextFunctions.PiiPatterns
    * (a regex subset Java and RE2 agree on, so the oracle runs them
    * verbatim). The synthetic corpus contains no PII — counts are
    * exercised on adversarial strings in CurationOpsSpec; this query
    * proves the cross-engine regex/count/redact parity.
    */
  def piiScan(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val counts = PiiPatterns.map { case (kind, pat) =>
      regexp_count($"text", lit(pat)).cast("long").as(s"n_$kind")
    }
    documents(spark, d)
      .select($"doc_id" +: counts :+
        length(piiRedact($"text")).cast("long").as("redacted_len"): _*)
  }

  /** q244: per-source PII exposure panel — q60's per-doc match counts
    * rolled up to the governance readout a data-protection review
    * actually consumes: per source, documents scanned, documents with
    * ANY match, per-kind match totals (email/phone/ssn/ip), and the
    * 1e6-quantized exposure rate. The provider dial: q60 tells an
    * engineer which docs to redact, this tells a review WHICH INGEST
    * CONTRACT leaks (one feed shipping unredacted logs shows as an ip/
    * ssn column spike under a single source — a remediation letter, not
    * a regex fix). Pure integer counts; one division per source.
    *
    * Shape: the same single map-only regex scan as q60 (no shuffle
    * until the aggregate), one |sources|-row hash aggregate.
    */
  def piiBySource(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val counts = PiiPatterns.map { case (kind, pat) =>
      regexp_count($"text", lit(pat)).cast("long").as(s"n_$kind")
    }
    val scanned = documents(spark, d).select($"source" +: counts: _*)
    val anyHit = PiiPatterns.map { case (k, _) => col(s"n_$k") > 0L }
      .reduce(_ || _)
    val aggs = Seq(count(lit(1)).as("n_docs"),
      sum(when(anyHit, 1L).otherwise(0L)).as("n_flagged")) ++
      PiiPatterns.map { case (k, _) => sum(col(s"n_$k")).as(s"sum_$k") }
    scanned.groupBy($"source").agg(aggs.head, aggs.tail: _*)
      .select($"source" +: $"n_docs" +: $"n_flagged" +:
        PiiPatterns.map { case (k, _) => col(s"sum_$k") } :+
        round($"n_flagged".cast("double") / $"n_docs".cast("double")
          * lit(1000000.0)).cast("long").as("exposure_q6"): _*)
  }

  /** Unigram-LM surprisal scoring: the corpus is its own language model
    * (p(w) = count/total) and each document reports its total and mean
    * per-token surprisal in bits — the cheap perplexity-style quality
    * signal (unusually-high surprisal = noise/garble, unusually-low =
    * degenerate repetition). Per-WORD surprisal is quantized to a 1e6
    * integer once per vocabulary entry, so document sums are exact
    * integer adds — partitioning-independent and oracle-checkable (the
    * only FP step, one log2 per vocab word, is far from any rounding
    * boundary at 1e-6 resolution).
    *
    * Scale: one vocabulary aggregate (map-side combined), the scalar
    * total as a driver value (the reference's A3 closed-over-count
    * shape), a broadcast of the vocab-sized score table back onto the
    * token stream, one (doc_id) aggregate.
    */
  def surprisal(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val tk = documents(spark, d).select($"doc_id", explode(tokens($"text")).as("w"))
    val wc = vocabCounts(spark, d)
    // empty corpus → SUM is NULL; 1 is inert (the score table has 0 rows)
    val total = graft.core.Scalars.longAt(wc.agg(sum($"c")).head(), 0, 1L)
    val scores = wc.select($"w",
      round((-log2($"c".cast("double") / lit(total.toDouble))) * lit(1000000.0))
        .cast("long").as("sq"))
    tk.join(broadcast(scores), "w")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum($"sq").as("bits_q"))
      .select($"doc_id", $"n_tokens", $"bits_q",
        ($"bits_q".cast("double") / ($"n_tokens".cast("double") * lit(1000000.0)))
          .as("mean_surprisal"))
  }

  /** Frequency-ranked vocabulary (id 1 = most frequent; ties broken
    * lexicographically), ranked with a DISTRIBUTED two-phase rank: range-
    * partition the vocab on the rank order, row_number within each range,
    * then add per-range offsets (the range sizes, folded to the driver in
    * one narrow job over the pinned ranges — bounded by the partition
    * count, the A3 closed-over-scalar shape).
    * Equivalent to `row_number() OVER (ORDER BY c DESC, w)` but with no
    * single-partition Exchange anywhere in the plan: the vocabulary is
    * corpus-sublinear (Heaps' law) yet still billions of rows at 100 TB —
    * sublinear ≠ one node.
    *
    * The range-partitioned table is memoized and localCheckpoint-PINNED:
    * range boundaries come from nondeterministic sampling, so a merely
    * cached snapshot whose blocks get evicted and recomputed (executor
    * loss at scale) could re-sample different boundaries and hand the
    * ranking plan pids that no longer match the offsets the driver
    * collected — wrong or duplicate token_ids. localCheckpoint severs the
    * lineage: the materialized pid assignment is the only one that exists
    * (a lost block fails the job loudly instead of recomputing wrong).
    */
  def rankedVocab(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val parted = vocabRanged(spark, d)
    val offsets = Ranks.partitionOffsets(parted, "pid", None,
      spark.sparkContext.defaultParallelism,
      "rankedVocab partition offsets (|partitions| rows)")
    parted
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"pid").orderBy($"c".desc, $"w".asc)))
      .select($"w", $"c",
        ($"rn".cast("long") + element_at(typedLit(offsets), $"pid")).as("token_id"))
  }

  // shared by q72, q95 and q200 through rankedVocab
  private val vocabRanged = shared("vocabRanged", cache = false) { (spark, d) =>
    import spark.implicits._
    vocabCounts(spark, d)
      .repartitionByRange(spark.sparkContext.defaultParallelism, $"c".desc, $"w".asc)
      .withColumn("pid", spark_partition_id())
      .cutLineage()
  }

  /** Zipf rank-frequency fit: OLS slope/intercept of log₂(count) on
    * log₂(rank) over the frequency-ranked vocabulary — the one-line
    * corpus health check (natural text sits near slope −1; a synthetic
    * or template-flooded corpus flattens). Composes the two-phase
    * distributed rank (`rankedVocab`) with the quantized-exact
    * regression discipline (q12): per-word (x, y) quantize to 1e6
    * integers once, the five OLS sums are exact integer adds, and both
    * engines derive the doubles from identical integers in an identical
    * operation order.
    *
    * Scale: the fit runs over the VOCABULARY (corpus-sublinear), one
    * map-side-combined aggregate after the rank; the OLS sums accumulate
    * in DECIMAL(38) (HUGEINT on the oracle side) so exactness survives
    * any vocabulary size — per-term products stay inside Int64, the
    * sums don't.
    */
  def zipfFit(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val q = rankedVocab(spark, d).select(
      round(log2($"token_id".cast("double")) * lit(1000000.0)).cast("long").as("xq"),
      round(log2($"c".cast("double")) * lit(1000000.0)).cast("long").as("yq"))
    // per-term products fit Int64 (xq·yq ≤ ~1e15) but the SUMS don't at
    // a large vocabulary (sum of xq² passes 2^63 near 40k words), so the
    // sums accumulate in DECIMAL(38) here and HUGEINT in DuckDB — exact
    // either way, and both engines convert the same exact integer to the
    // same nearest double before any multiplication, keeping the slope
    // bit-identical cross-engine at any vocabulary size
    val s = q.agg(
      count(lit(1)).as("n"),
      sum($"xq".cast("decimal(38,0)")).as("sx"),
      sum($"yq".cast("decimal(38,0)")).as("sy"),
      sum(($"xq" * $"yq").cast("decimal(38,0)")).as("sxy"),
      sum(($"xq" * $"xq").cast("decimal(38,0)")).as("sxx"))
    val slope = ($"n".cast("double") * $"sxy".cast("double") -
        $"sx".cast("double") * $"sy".cast("double")) /
      ($"n".cast("double") * $"sxx".cast("double") -
        $"sx".cast("double") * $"sx".cast("double"))
    // slope is scale-free (x and y carry the same 1e6 factor); the
    // intercept is in quantized-y units and divides it back out
    s.select($"n".as("n_vocab"),
      slope.as("slope"),
      (($"sy".cast("double") - slope * $"sx".cast("double")) /
        ($"n".cast("double") * lit(1000000.0))).as("intercept"))
  }

  /** q208: Heaps'-law type-growth fit — V(N) ≈ K·N^β estimated by OLS
    * of log₂(cumulative distinct 3-gram shingle types) on
    * log₂(cumulative shingle instances) over 16 corpus prefixes
    * (doc_id order). The capacity-planning twin of q95's Zipf fit: β
    * says how fast the type inventory (and hence every type-keyed
    * structure the dedup/retrieval machinery carries — the shingle
    * index, MinHash band tables, DF tables) grows as the corpus
    * scales; β drifting toward 1 means unbounded novel types (noise,
    * ids), toward 0 means template flooding. Shingle types rather than
    * word types because n-gram inventories keep growing combinatorially
    * where a word vocabulary saturates (on the synthetic fixture the
    * word vocabulary is ~30 types and saturates in the first prefix —
    * the degenerate case this fit would exist to DETECT).
    *
    * The prefix trick makes cumulative-distinct scalable: a type's
    * contribution to EVERY prefix is determined by its FIRST prefix
    * (min over a type-level aggregate), so the 16 cumulative
    * inventory sizes come from one type-sized min-aggregate and a
    * 16-row running sum — never 16 distinct-counts over growing
    * slices. Doc ranks via `Ranks.globalRank` (range-partitioned);
    * the fit follows the q12/q95 quantized-OLS discipline (log₂ points
    * quantized to 1e6 longs once, exact integer sums, identical final
    * double chain in both engines). Rides the dedup family's
    * docShingleArrays memo — zero new corpus passes in a session that
    * already deduped.
    */
  def heapsFit(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val tok = graft.operators.Dedup.docShingleArrays(spark, d) // (doc_id, shs)
    val n = tok.count()
    val ranked = graft.operators.Ranks.globalRank(tok, "r", $"doc_id".asc)
      .withColumn("p", expr(s"((r - 1) * 16) div ${n}L + 1"))
    val ptc = ranked.groupBy($"p").agg(sum(size($"shs")).as("tc"))
    val pv = ranked.select($"p", explode($"shs").as("w"))
      .groupBy($"w").agg(min($"p").as("p"))
      .groupBy($"p").agg(count(lit(1)).as("nv"))
    val allp = (1L to 16L).toDF("p")
    val w16 = org.apache.spark.sql.expressions.Window.orderBy($"p")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // 16-row table: the running sums are windows over an aggregate,
    // never over row-level data
    val cur = allp
      .join(ptc, Seq("p"), "left").join(pv, Seq("p"), "left")
      .select($"p", coalesce($"tc", lit(0L)).as("tc"),
        coalesce($"nv", lit(0L)).as("nv"))
      .select($"p", sum($"tc").over(w16).as("cum_tokens"),
        sum($"nv").over(w16).as("vocab"))
    val q = cur.filter($"cum_tokens" > 0L && $"vocab" > 0L).select(
      round(log2($"cum_tokens".cast("double")) * lit(1000000.0)).cast("long").as("xq"),
      round(log2($"vocab".cast("double")) * lit(1000000.0)).cast("long").as("yq"))
    // 16 points: every OLS sum fits Int64 with orders of magnitude to
    // spare (xq ≲ 5e7 even at 100 TB, so sxx ≤ 16·2.5e15)
    val s = q.agg(count(lit(1)).as("n"), sum($"xq").as("sx"), sum($"yq").as("sy"),
      sum($"xq" * $"yq").as("sxy"), sum($"xq" * $"xq").as("sxx"))
    val beta = ($"n".cast("double") * $"sxy".cast("double") -
        $"sx".cast("double") * $"sy".cast("double")) /
      ($"n".cast("double") * $"sxx".cast("double") -
        $"sx".cast("double") * $"sx".cast("double"))
    val tot = cur.agg(max($"cum_tokens").as("n_tokens"), max($"vocab").as("n_vocab"))
    s.crossJoin(tot).select($"n".as("n_points"), $"n_tokens", $"n_vocab",
      beta.as("beta"),
      (($"sy".cast("double") - beta * $"sx".cast("double")) /
        ($"n".cast("double") * lit(1000000.0))).as("log2k"))
  }

  /** q212: per-source Zipf slopes — q95's rank-frequency OLS fit, one
    * row per source. The per-source corpus health panel: a source whose
    * slope sits far from the global fit (or from −1) is synthetic,
    * template-flooded, or OCR noise — exactly the per-source signal the
    * q54/q101 mixture designers reweight on, where the global q95
    * number averages it away.
    *
    * Shape: per-source (w, c) counts are one map-side-combined
    * aggregate; within-source frequency ranks ride
    * `Ranks.groupRowNumber` ((c desc, w) is a total order — and a hot
    * source is never one sort partition); the per-source OLS sums
    * follow the q95 quantized-exact discipline (log₂ points → 1e6
    * longs, DECIMAL(38,0) sums, identical final double chain), so the
    * whole fit is |sources| exact aggregates over vocabulary-sized
    * data.
    */
  def sourceZipf(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dec38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val sw = documents(spark, d)
      .select($"source", explode(tokens($"text")).as("w"))
      .groupBy($"source", $"w").agg(count(lit(1)).as("c"))
    val ranked = graft.operators.Ranks.groupRowNumber(
      sw, "rank", Seq($"source"), Seq($"c".desc, $"w".asc))
    val q = ranked.select($"source",
      round(log2($"rank".cast("double")) * lit(1000000.0)).cast("long").as("xq"),
      round(log2($"c".cast("double")) * lit(1000000.0)).cast("long").as("yq"))
    val s = q.groupBy($"source").agg(
      count(lit(1)).as("n"),
      sum($"xq".cast(dec38)).as("sx"),
      sum($"yq".cast(dec38)).as("sy"),
      sum(($"xq" * $"yq").cast(dec38)).as("sxy"),
      sum(($"xq" * $"xq").cast(dec38)).as("sxx"))
    val slope = ($"n".cast("double") * $"sxy".cast("double") -
        $"sx".cast("double") * $"sy".cast("double")) /
      ($"n".cast("double") * $"sxx".cast("double") -
        $"sx".cast("double") * $"sx".cast("double"))
    s.select($"source", $"n".as("n_vocab"),
      slope.as("slope"),
      (($"sy".cast("double") - slope * $"sx".cast("double")) /
        ($"n".cast("double") * lit(1000000.0))).as("intercept"))
  }

  /** q216: per-source length concentration (Gini) — the Gini
    * coefficient of the doc-length distribution inside each source,
    * from the exact rank-weighted form G = (2·Σᵢ i·x₍ᵢ₎ − (n+1)·Σx) /
    * (n·Σx). The "is this source a few megadocs wearing a trench coat"
    * audit: a source where 1 % of docs carry 90 % of bytes needs
    * chunking (q56) or per-doc caps before it dominates every batch it
    * appears in; q147 balances SHARDS, this audits the distribution
    * inside a source.
    *
    * Exactness: ranks are integers (ties break by doc_id — exchanging
    * equal lengths leaves Σ i·x unchanged, so the tiebreak cannot leak
    * into the result), both sums accumulate in DECIMAL(38,0)/HUGEINT,
    * and the single division happens once in both engines.
    *
    * Scale: the rank-weighted sum collapses onto the per-source LENGTH
    * HISTOGRAM (the q121 covering-class convention): a value class with
    * rank span [lo, hi] contributes x·Σ_{i=lo..hi} i = x·(lo+hi)·cnt/2
    * exactly (ties exchange equal lengths, so per-row ranks are never
    * needed), and 2·Σᵢ i·x = Σ x·(lo+hi)·cnt with every product exact
    * in DECIMAL(38,0). One map-side-combined aggregate is the only
    * full-data pass; the per-source prefix window touches ≤ |distinct
    * lengths| rows — a constant under corpus growth.
    */
  def lengthGini(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dec38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val hist = documents(spark, d)
      .groupBy($"source", $"n_chars").agg(count(lit(1)).as("cnt"))
    graft.operators.Ranks.classSpans(hist, Seq($"source"), $"n_chars", $"cnt")
      .groupBy($"source").agg(
        sum($"cnt").as("n"),
        sum(($"n_chars" * $"cnt").cast(dec38)).as("s0"),
        // Σ x·(lo+hi)·cnt = 2·Σᵢ i·x — the doubled rank-weighted sum
        sum(($"lo" + $"hi").cast(dec38) * $"cnt".cast(dec38)
          * $"n_chars".cast(dec38)).as("s2"))
      .select($"source", $"n", $"s0".cast("long").as("total_chars"),
        round(($"s2" - ($"n" + lit(1L)) * $"s0").cast("double")
          / ($"n" * $"s0").cast("double") * lit(1000000.0))
          .cast("long").as("gini_q6"))
  }

  /** q218: quality-signal correlation matrix — pairwise Pearson r over
    * the four per-doc quality signals (alpha ratio, doc length, mean
    * token length, stop-word ratio). The feature-redundancy audit read
    * before fitting the q74 calibrated filter or the q161 committee: a
    * pair with |r| ≈ 1 is one signal wearing two names (drop one,
    * weights split arbitrarily otherwise); a low-|r| panel actually
    * spans quality space.
    *
    * Shape: the scale-right Pearson needs NO unpivot and NO self-join —
    * with a fixed 4-signal panel, every Σx, Σx², Σxy lives in ONE
    * map-side-combined global aggregate over the wide row (4+4+6
    * DECIMAL(38,0) sums of quantized-1e6 integers), and the 6 output
    * rows assemble from that single row. Degenerate variance guards to
    * r = 0 via exact-integer comparisons, so both engines branch
    * identically; the final chain is num/(√vx·√vy), once.
    */
  def signalCorrelation(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dec38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val base = qualityScore(spark, d)
      .join(documents(spark, d).select($"doc_id", $"n_chars"), "doc_id")
      .select(
        round($"alpha_ratio" * lit(1000000.0)).cast("long").as("q_alpha"),
        $"n_chars".as("q_len"),
        round($"mean_tok_len" * lit(1000000.0)).cast("long").as("q_mtl"),
        round($"stop_ratio" * lit(1000000.0)).cast("long").as("q_stop"))
    val feats = Seq("alpha", "len", "mtl", "stop")
    val sums = Seq(count(lit(1)).as("n")) ++
      feats.flatMap(f => Seq(
        sum(col(s"q_$f").cast(dec38)).as(s"s_$f"),
        sum((col(s"q_$f") * col(s"q_$f")).cast(dec38)).as(s"ss_$f"))) ++
      (for { a <- feats; b <- feats if a < b } yield
        sum((col(s"q_$a") * col(s"q_$b")).cast(dec38)).as(s"sp_${a}_$b"))
    val one = base.agg(sums.head, sums.tail: _*)
    // ONE evaluation of the aggregate row, exploded to the 6 pairs —
    // a union of per-pair selects would re-plan the corpus scan 6×
    val pairStructs = for { a <- feats; b <- feats if a < b } yield {
      val num = $"n".cast(dec38) * col(s"sp_${a}_$b") - col(s"s_$a") * col(s"s_$b")
      val vx = $"n".cast(dec38) * col(s"ss_$a") - col(s"s_$a") * col(s"s_$a")
      val vy = $"n".cast(dec38) * col(s"ss_$b") - col(s"s_$b") * col(s"s_$b")
      struct(lit(a).as("feat_a"), lit(b).as("feat_b"),
        when(vx > 0 && vy > 0,
          num.cast("double")
            / (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))))
          .otherwise(lit(0.0)).as("corr"))
    }
    one.select($"n", explode(array(pairStructs: _*)).as("p"))
      .select($"p.feat_a".as("feat_a"), $"p.feat_b".as("feat_b"),
        $"n", $"p.corr".as("corr"))
  }

  /** Distributed heavy hitters: EXACT frequent-token mining with a
    * Misra-Gries candidate prune (the mergeable-summary pattern of
    * Misra & Gries 1982 / the MG row of Agarwal et al.'s mergeable
    * summaries). Phase 1 runs an MG(k) summary per partition — genuine
    * per-partition imperative state, the mapPartitions case: any token
    * with global frequency ≥ N/`pctDen` must exceed some partition's
    * local n_p/(k+1) bound (pigeonhole, k+1 > pctDen), so the union of
    * partition candidates is a GUARANTEED superset of the true heavy
    * hitters, whatever the partitioning. Phase 2 exact-counts only the
    * candidates (broadcast semi-join prunes the token stream BEFORE the
    * count shuffle) and keeps pctDen·c ≥ N — an exact integer
    * threshold, so the result is partition-independent even though the
    * candidate set is not.
    *
    * Scale: this is the 100 TB shape for "frequent items": TWO corpus
    * passes total — the MG pass also carries each partition's token
    * count, so the global N needs no separate count job — versus the
    * full groupBy-count that shuffles the entire corpus. The collected
    * summary is ≤ partitions·(k+1) rows (driver-bounded); per-partition
    * state is k counters — O(k) memory, O(1) amortized per token.
    */
  def heavyHitters(spark: SparkSession, d: String, k: Int = 128,
      pctDen: Long = 100L): DataFrame = {
    require(k + 1 > pctDen, s"MG needs k+1 > pctDen for the superset bound (k=$k, pctDen=$pctDen)")
    import spark.implicits._
    def tk = documents(spark, d)
      .select(explode(tokens($"text")).as("w")).as[String]
    // one pass: MG candidates AND the partition's token total (null w)
    val summary = tk.mapPartitions { it =>
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      var np = 0L
      it.foreach { w =>
        np += 1L
        counters.get(w) match {
          case Some(c) => counters(w) = c + 1
          case None if counters.size < k => counters(w) = 1L
          case None =>
            val ks = counters.keys.toArray
            var i = 0
            while (i < ks.length) {
              val c = counters(ks(i)) - 1
              if (c == 0L) counters.remove(ks(i)) else counters(ks(i)) = c
              i += 1
            }
        }
      }
      counters.keysIterator.map(w => (Option(w), 0L)) ++
        Iterator((Option.empty[String], np))
    }
    val collected = graft.core.Bounded.collectDs(summary,
      summary.rdd.getNumPartitions.toLong * (k + 1),
      "heavyHitters MG summary (partitions·(k+1) rows)")
    val n = collected.collect { case (None, np) => np }.sum
    val cands = collected.collect { case (Some(w), _) => w }.distinct.toSeq
      .toDF("w")
    tk.toDF("w").join(broadcast(cands), "w")
      .groupBy($"w").agg(count(lit(1)).as("cnt"))
      .filter($"cnt" * lit(pctDen) >= lit(n))
  }

  /** Tokenizer application: map every token to its integer id under the
    * frequency-ranked vocabulary (`rankedVocab`) — the text→ids step
    * before packing. Output is the exploded (doc_id, pos, token_id)
    * stream.
    *
    * Scale: the rank itself is the distributed two-phase form (see
    * rankedVocab); the id table broadcasts back onto the token stream, so
    * the corpus itself is never shuffled (real tokenizers ship the vocab
    * as a file — same shape, the broadcast IS the vocab file).
    */
  def tokenizeIds(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val tk = documents(spark, d)
      .select($"doc_id", posexplode(tokens($"text")).as(Seq("p0", "w")))
    tk.join(broadcast(rankedVocab(spark, d).select($"w", $"token_id")), "w")
      .select($"doc_id", ($"p0" + 1).cast("long").as("pos"),
        $"token_id".cast("long").as("token_id"))
  }

  /** Bigram-LM training: conditional next-token probabilities
    * p(w2 | w1) = c(w1 w2) / c(w1 ·) from adjacent-pair counts — the
    * first non-trivial LM a corpus pipeline fits (and the smoothing-free
    * core of n-gram contamination scoring). Probability is one exact
    * integer ratio in a single division — engine-independent.
    *
    * Scale: one (w1, w2) aggregation, map-side combined, key space =
    * observed bigram vocabulary (sublinear); the w1 marginal reuses the
    * pair counts — no second corpus pass.
    */
  /** (w1, w2, c12) bigram-type counts — the LM table the bigram family
    * folds over, shared lineage: q73 emits it, q77/q83/q100/q107
    * broadcast scores derived from it — one corpus pair-explode per
    * session. (q89's backoff trains on the 80% split and keeps its own
    * "bigramCountsSplit" memo.)
    */
  private[graft] val bigramCounts = shared("bigramCounts", cache = true) { (spark, d) =>
    import spark.implicits._
    documents(spark, d)
      .select($"doc_id", tokens($"text").as("ws"))
      .select(explode(when(size($"ws") >= 2,
        zip_with(slice($"ws", lit(1), size($"ws") - 1), slice($"ws", lit(2), size($"ws") - 1),
          (a, b) => struct(a.as("w1"), b.as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("p"))
      .select($"p.w1".as("w1"), $"p.w2".as("w2"))
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
  }

  def bigramLm(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val c12 = bigramCounts(spark, d)
    val c1 = c12.groupBy($"w1").agg(sum($"c12").as("c1"))
    c12.join(c1, "w1")
      .select($"w1", $"w2", $"c12", $"c1",
        ($"c12".cast("double") / $"c1").as("p"))
  }

  /** Bigram-contextual surprisal per document: mean −log₂ p(w2 | w1)
    * over the document's adjacent pairs under the corpus bigram LM
    * (q73) — the contextual upgrade of the unigram signal (q69): word
    * salads score high here even when their unigram mix looks normal.
    * Per-BIGRAM surprisal is quantized to a 1e6 integer once per
    * observed pair, so document sums are exact integer adds.
    *
    * Scale: the LM table is the observed-bigram vocabulary (sublinear),
    * broadcast onto the pair stream; one (doc_id) aggregate; docs with
    * fewer than two tokens re-enter with zero mass via the left join.
    */
  // memo-cached (r18, the r17 langId pattern): q77 emits it, q100's
  // bucketing and q184's mixture tilt re-read it — without the cache
  // the per-doc bigram explode + broadcast LM join + (doc_id)
  // aggregate ran once per consumer. The cached table is one row per
  // doc (id + two longs + one double), far smaller than the pair
  // stream it replaces.
  val bigramSurprisal = shared("bigramSurprisal", cache = true) { (spark, d) =>
    import spark.implicits._
    val docBg = documents(spark, d)
      .select($"doc_id", tokens($"text").as("ws"))
      .select($"doc_id", explode(when(size($"ws") >= 2,
        zip_with(slice($"ws", lit(1), size($"ws") - 1), slice($"ws", lit(2), size($"ws") - 1),
          (a, b) => struct(a.as("w1"), b.as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("p"))
      .select($"doc_id", $"p.w1".as("w1"), $"p.w2".as("w2"))
    val scores = bigramLm(spark, d).select($"w1", $"w2",
      round((-log2($"c12".cast("double") / $"c1")) * lit(1000000.0))
        .cast("long").as("sq"))
    val perDoc = docBg.join(broadcast(scores), Seq("w1", "w2"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum($"sq").as("bits_q"))
    documents(spark, d).select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_bigrams", lit(0L)).as("n_bigrams"),
        coalesce($"bits_q", lit(0L)).as("bits_q"),
        coalesce($"bits_q".cast("double") /
          ($"n_bigrams".cast("double") * lit(1000000.0)), lit(0.0))
          .as("mean_bigram_surprisal"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): rank every
    * document WITHIN its language by the q77 bigram-LM surprisal and cut
    * each ranking into thirds — head (most fluent), middle, tail — the
    * head/middle/tail quality gate CCNet applies before sampling.
    * Ordering is (mean surprisal, doc_id): the surprisal doubles are
    * bit-identical cross-engine (q77's hash match is the proof), so the
    * rank — and hence the bucket — is deterministic.
    *
    * Scale: the surprisal is the q77 plan (LM tables corpus-sublinear,
    * broadcast onto the pair stream); the bucketing is a window rank
    * over DOC rows, partitioned by language. A skewed language at 1e9
    * docs splits by ranking within (lang, hash-salt) sub-partitions and
    * merging rank offsets — same plan shape, noted not needed here.
    */
  def perplexityBuckets(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val base = bigramSurprisal(spark, d)
      .join(documents(spark, d).select($"doc_id", $"lang"), "doc_id")
    // (surprisal, doc_id) is already a TOTAL order within each lang, so
    // rank == row_number — the groupRowNumber fast path (no tie-class
    // aggregate/join); no lang-partitioned window anywhere (q136)
    // the group sizes ride the rank as its size column — counting from
    // `base` would re-run the surprisal lineage
    graft.operators.Ranks.groupRowNumber(base, "rn",
        Seq($"lang"), Seq($"mean_bigram_surprisal", $"doc_id"),
        sizeCol = Some("n"))
      .select($"doc_id", $"lang", $"n_bigrams", $"bits_q",
        $"mean_bigram_surprisal",
        when(lit(3L) * $"rn" <= $"n", lit("head"))
          .when(lit(3L) * $"rn" <= lit(2L) * $"n", lit("middle"))
          .otherwise(lit("tail")).as("ppl_bucket"))
  }

  /** Jelinek-Mercer INTERPOLATED bigram surprisal: mean −log₂ of
    * p(w2|w1) = λ·p_bigram(w2|w1) + (1−λ)·p_unigram(w2) over each
    * document's adjacent pairs — the smoothing upgrade of q77 (a raw
    * bigram LM assigns unseen-context mass badly; every practical n-gram
    * scorer interpolates with the lower order). Per observed pair the
    * probability is two exact integer ratios mixed with literal λ in a
    * fixed operation order both engines reproduce, then quantized to a
    * 1e6 integer once per pair type — document sums stay exact adds.
    *
    * Scale: the LM tables are the observed bigram/unigram vocabularies
    * (corpus-sublinear), joined once at pair-type granularity and
    * broadcast onto the pair stream; one (doc_id) aggregate.
    */
  def interpSurprisal(spark: SparkSession, d: String,
      lambda: Double = 0.7): DataFrame = {
    import spark.implicits._
    val wc = vocabCounts(spark, d)
    val total = graft.core.Scalars.longAt(wc.agg(sum($"c")).head(), 0, 1L)
    val scores = bigramLm(spark, d)
      .join(broadcast(wc.select($"w".as("w2"), $"c".as("cu"))), "w2")
      .select($"w1", $"w2",
        round((-log2(lit(lambda) * ($"c12".cast("double") / $"c1") +
          lit(1 - lambda) * ($"cu".cast("double") / lit(total.toDouble))))
          * lit(1000000.0)).cast("long").as("sq"))
    val docBg = documents(spark, d)
      .select($"doc_id", tokens($"text").as("ws"))
      .select($"doc_id", explode(when(size($"ws") >= 2,
        zip_with(slice($"ws", lit(1), size($"ws") - 1), slice($"ws", lit(2), size($"ws") - 1),
          (a, b) => struct(a.as("w1"), b.as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("p"))
      .select($"doc_id", $"p.w1".as("w1"), $"p.w2".as("w2"))
    val perDoc = docBg.join(broadcast(scores), Seq("w1", "w2"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum($"sq").as("bits_q"))
    documents(spark, d).select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_bigrams", lit(0L)).as("n_bigrams"),
        coalesce($"bits_q", lit(0L)).as("bits_q"),
        coalesce($"bits_q".cast("double") /
          ($"n_bigrams".cast("double") * lit(1000000.0)), lit(0.0))
          .as("mean_interp_surprisal"))
  }

  /** Interpolated KNESER-NEY bigram surprisal (Kneser & Ney 1995; the
    * Chen & Goodman 1998 interpolated form) — the standard-smoothing
    * upgrade of the JM mix (q83): absolute-discount the bigram estimate
    * and back off to the CONTINUATION unigram (how many distinct
    * contexts a word follows) rather than raw frequency:
    *
    *   p(w2|w1) = (c12 − D)/c1 + ((D · N1+(w1,·))/c1) · (N1+(·,w2)/B)
    *
    * with D = `discount`, N1+(w1,·) = distinct continuations of w1,
    * N1+(·,w2) = distinct left-contexts of w2, B = distinct bigram
    * types. Every observed pair has c12 ≥ 1 > D, so the discounted term
    * is positive and no max(·,0) branch is needed; all four ratios are
    * exact-integer divisions composed in a fixed operation order both
    * engines reproduce, then quantized to a 1e6 integer once per pair
    * TYPE — document sums stay exact adds.
    *
    * Scale: all LM tables are observed-type vocabularies
    * (corpus-sublinear) derived from the memo-shared bigramCounts; B is
    * one driver scalar; scores broadcast onto the pair stream; one
    * (doc_id) aggregate.
    */
  def knSurprisal(spark: SparkSession, d: String,
      discount: Double = 0.75): DataFrame = {
    import spark.implicits._
    val c12 = bigramCounts(spark, d)
    val c1 = c12.groupBy($"w1")
      .agg(sum($"c12").as("c1"), count(lit(1)).as("n1f"))
    val nb = c12.groupBy($"w2").agg(count(lit(1)).as("n1b"))
    val b = c12.count()
    val scores = c12.join(c1, "w1").join(nb, "w2")
      .select($"w1", $"w2",
        round((-log2((($"c12".cast("double") - lit(discount)) /
            $"c1".cast("double")) +
          (((lit(discount) * $"n1f".cast("double")) / $"c1".cast("double")) *
            ($"n1b".cast("double") / lit(b.toDouble)))))
          * lit(1000000.0)).cast("long").as("sq"))
    val docBg = documents(spark, d)
      .select($"doc_id", tokens($"text").as("ws"))
      .select($"doc_id", explode(when(size($"ws") >= 2,
        zip_with(slice($"ws", lit(1), size($"ws") - 1), slice($"ws", lit(2), size($"ws") - 1),
          (a, b) => struct(a.as("w1"), b.as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("p"))
      .select($"doc_id", $"p.w1".as("w1"), $"p.w2".as("w2"))
    val perDoc = docBg.join(broadcast(scores), Seq("w1", "w2"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum($"sq").as("bits_q"))
    documents(spark, d).select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_bigrams", lit(0L)).as("n_bigrams"),
        coalesce($"bits_q", lit(0L)).as("bits_q"),
        coalesce($"bits_q".cast("double") /
          ($"n_bigrams".cast("double") * lit(1000000.0)), lit(0.0))
          .as("mean_kn_surprisal"))
  }

  /** Trigram STUPID-BACKOFF surprisal (Brants et al. 2007, "Large
    * Language Models in Machine Translation" — the backoff scheme built
    * FOR distributed n-gram LMs: no discount normalization, so every
    * level is a plain count ratio). Score of token w at position i:
    *
    *   S(w | w₋₂w₋₁) = c(w₋₂w₋₁w)/c(w₋₂w₋₁·)   if the trigram is in the LM
    *                 = α · S(w | w₋₁)           otherwise
    *   S(w | w₋₁)    = c(w₋₁w)/c(w₋₁·)          if the bigram is in the LM
    *                 = α · S(w)                  otherwise  (α = 0.4)
    *   S(w)          = (c(w)+1)/(N+V)            add-one unigram, OOV-safe
    *
    * Denominators are the n-gram tables' own context marginals, so the
    * bigram level IS q73's conditional — on corpora with no trigrams the
    * operator reduces exactly to q77 (asserted in PipelineOpsSpec). The
    * LM trains on the deterministic `trainFrac`% split (q52's bucket
    * assignment) and scores ALL documents — on held-out docs all three
    * backoff levels genuinely fire, which is the point of backoff.
    * Per-type scores quantize to 1e6 integers once; doc sums are exact.
    *
    * Scale: n-gram tables are corpus-sublinear and broadcast onto the
    * position stream (the q77/q83 discipline); two corpus scans (train
    * count + score), one (doc_id) aggregate. Scoring joins at distinct
    * TYPE granularity first, so the per-occurrence stream only ever hash-
    * joins a precomputed score column.
    */
  def backoffSurprisal(spark: SparkSession, d: String,
      alpha: Double = 0.4, trainFrac: Int = 80): DataFrame = {
    import spark.implicits._
    val docsTok = documents(spark, d).select($"doc_id", tokens($"text").as("ws"))
    def triExplode(df: DataFrame): DataFrame = df
      .select($"doc_id", explode(when(size($"ws") >= 3,
        transform(sequence(lit(1), size($"ws") - 2), i =>
          struct(element_at($"ws", i).as("w1"), element_at($"ws", i + 1).as("w2"),
            element_at($"ws", i + 2).as("w3"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string,w3:string>>"))).as("t"))
      .select($"doc_id", $"t.w1".as("w1"), $"t.w2".as("w2"), $"t.w3".as("w3"))
    def bgExplode(df: DataFrame): DataFrame = df
      .select($"doc_id", explode(when(size($"ws") >= 2,
        zip_with(slice($"ws", lit(1), size($"ws") - 1), slice($"ws", lit(2), size($"ws") - 1),
          (a, b) => struct(a.as("w1"), b.as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("p"))
      .select($"doc_id", $"p.w1".as("w1"), $"p.w2".as("w2"))
    val train = docsTok.filter(
      Sampling.hashBucket($"doc_id", "split:") < trainFrac)
    // cached: each count table feeds its marginal and several score joins;
    // not declared builds: q89 is their one catalog consumer
    val c123 = graft.core.Memo(spark, cache = true, "trigramCounts", d, trainFrac.toString) {
      triExplode(train).groupBy($"w1", $"w2", $"w3").agg(count(lit(1)).as("c123"))
    }
    val c12m = c123.groupBy($"w1", $"w2").agg(sum($"c123").as("c12m"))
    val c12 = graft.core.Memo(spark, cache = true, "bigramCountsSplit", d, trainFrac.toString) {
      bgExplode(train).groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
    }
    val c1m = c12.groupBy($"w1").agg(sum($"c12").as("c1m"))
    val uc = graft.core.Memo(spark, cache = true, "vocabCountsSplit", d, trainFrac.toString) {
      train.select(explode($"ws").as("wd")).groupBy($"wd").agg(count(lit(1)).as("cu"))
    }
    // N + V: two train-LM scalars, the A3 closed-over-scalar shape
    // (SUM is NULL on an empty train split; 1 is inert — no rows score)
    val nvRow = uc.agg(sum($"cu"), count(lit(1))).head()
    val nTok = graft.core.Scalars.longAt(nvRow, 0, 1L)
    val vSize = nvRow.getLong(1)
    val nv = lit((nTok + vSize).toDouble)
    def s1(cu: Column): Column =
      (coalesce(cu, lit(0L)).cast("double") + lit(1.0)) / nv
    // distinct TYPE tables get the quantized score; occurrences join it
    val t3 = triExplode(docsTok)
    val tripScores = t3.select($"w1", $"w2", $"w3").distinct()
      .join(c123, Seq("w1", "w2", "w3"), "left")
      .join(c12m, Seq("w1", "w2"), "left")
      .join(c12.select($"w1".as("w2"), $"w2".as("w3"), $"c12".as("c23")),
        Seq("w2", "w3"), "left")
      .join(c1m.select($"w1".as("w2"), $"c1m".as("c2m")), Seq("w2"), "left")
      .join(uc.select($"wd".as("w3"), $"cu"), Seq("w3"), "left")
      .select($"w1", $"w2", $"w3",
        round((-log2(
          when($"c123".isNotNull, $"c123".cast("double") / $"c12m".cast("double"))
            .otherwise(lit(alpha) *
              when($"c23".isNotNull, $"c23".cast("double") / $"c2m".cast("double"))
                .otherwise(lit(alpha) * s1($"cu"))))) * lit(1000000.0))
          .cast("long").as("sq"))
    val p2 = docsTok.filter(size($"ws") >= 2)
      .select($"doc_id", element_at($"ws", 1).as("w1"), element_at($"ws", 2).as("w2"))
    val pairScores = p2.select($"w1", $"w2").distinct()
      .join(c12, Seq("w1", "w2"), "left")
      .join(c1m, Seq("w1"), "left")
      .join(uc.select($"wd".as("w2"), $"cu"), Seq("w2"), "left")
      .select($"w1", $"w2",
        round((-log2(
          when($"c12".isNotNull, $"c12".cast("double") / $"c1m".cast("double"))
            .otherwise(lit(alpha) * s1($"cu")))) * lit(1000000.0))
          .cast("long").as("sq"))
    // tripScores is keyed on distinct trigram TYPES, which grow
    // near-linearly with corpus size — no broadcast hint here; AQE picks
    // the join strategy by measured size (it still broadcasts at test
    // scale). pairScores keeps the hint: bigram types are vocab-bounded.
    val perDoc = t3.join(tripScores, Seq("w1", "w2", "w3")).select($"doc_id", $"sq")
      .union(p2.join(broadcast(pairScores), Seq("w1", "w2")).select($"doc_id", $"sq"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_scored"), sum($"sq").as("bits_q"))
    documents(spark, d).select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_scored", lit(0L)).as("n_scored"),
        coalesce($"bits_q", lit(0L)).as("bits_q"),
        coalesce($"bits_q".cast("double") /
          ($"n_scored".cast("double") * lit(1000000.0)), lit(0.0))
          .as("mean_backoff_surprisal"))
  }

  /** DSIR-style importance weights for TARGET-DOMAIN resampling (Xie et
    * al. 2023, "Data Selection for Language Models via Importance
    * Resampling"): each document's log importance ratio
    * Σ_tokens log₂ p_target(w) − log₂ p_corpus(w) under two unigram LMs —
    * the feature DSIR thresholds/samples on (DSIR hashes n-grams; the
    * unigram form is the honest single-table simplification). The target
    * LM is the `targetLang` slice with add-one smoothing over the CORPUS
    * vocabulary (every corpus word scores finitely); the corpus LM is the
    * raw frequency ratio. Per-vocab-word scores quantize to 1e6 integers
    * once — document sums are exact adds, so ranking and selection are
    * engine- and partitioning-independent.
    *
    * Scale: two vocabulary aggregates (one filtered), two driver scalars
    * (the A3 closed-over-count shape), one broadcast of the vocab-sized
    * score table onto the token stream, one (doc_id) aggregate.
    */
  def dsirWeights(spark: SparkSession, d: String,
      targetLang: String = "en"): DataFrame = {
    import spark.implicits._
    val tk = documents(spark, d)
      .select($"doc_id", $"lang", explode(tokens($"text")).as("w"))
    val wc = vocabCounts(spark, d)
    val tc = tk.filter($"lang" === targetLang)
      .groupBy($"w").agg(count(lit(1)).as("ct"))
    val total = graft.core.Scalars.longAt(wc.agg(sum($"c")).head(), 0, 1L)
    val vocabAndTarget = wc.join(tc, Seq("w"), "left")
      .select($"w", $"c", coalesce($"ct", lit(0L)).as("ct"))
    val vtRow = vocabAndTarget.agg(count(lit(1)), sum($"ct")).head()
    val vocabSize = vtRow.getLong(0)
    val targetTotal = graft.core.Scalars.longAt(vtRow, 1, 0L)
    val scores = vocabAndTarget.select($"w",
      round((log2(($"ct" + 1).cast("double") /
          lit((targetTotal + vocabSize).toDouble)) -
        log2($"c".cast("double") / lit(total.toDouble)))
        * lit(1000000.0)).cast("long").as("sq"))
    tk.join(broadcast(scores), "w")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum($"sq").as("logratio_q"))
      .select($"doc_id", $"n_tokens", $"logratio_q",
        ($"logratio_q".cast("double") / lit(1000000.0)).as("log_ratio"))
  }

  /** HASHED-n-gram DSIR importance weights — the actual Xie et al.
    * feature recipe (q84 keeps the word-unigram rung): unigrams AND
    * bigrams hashed into a fixed `nBuckets` bucket space, target and raw
    * LMs both bag-of-hashed-ngrams with add-one smoothing over the
    * BUCKET space (the hashing is what bounds the model at corpus scale
    * — the LM is nBuckets counters regardless of vocabulary growth).
    * Per-bucket log₂ ratios quantize to 1e6 integers once; document
    * weights are exact integer sums of their feature-occurrence scores.
    *
    * Scale: the feature stream is 2·tokens−1 rows in the scan stage; ONE
    * corpus aggregate into nBuckets rows (target counts ride along as a
    * conditional sum — no second pass); the score table is nBuckets rows
    * broadcast onto the stream; one (doc_id) aggregate. The fixed bucket
    * space is the point at 100 TB: vocabulary grows with the corpus,
    * the hashed LM does not.
    */
  /** The hashed unigram+bigram feature stream shared by q90 (DSIR) and
    * q96 (source divergence): (doc_id, lang, source, bucket) — one row
    * per feature occurrence, bucket = md5 of the feature mod `nBuckets`.
    * Scan-stage derivation (cheap to recompute; the AGGREGATES over it
    * are what memoize).
    */
  private def hashedFeats(spark: SparkSession, d: String, nBuckets: Int): DataFrame = {
    import spark.implicits._
    documents(spark, d).select($"doc_id", $"lang", $"source", tokens($"text").as("ws"))
      .select($"doc_id", $"lang", $"source",
        explode(concat($"ws", when(size($"ws") >= 2,
          zip_with(slice($"ws", lit(1), size($"ws") - 1), slice($"ws", lit(2), size($"ws") - 1),
            (a, b) => concat_ws(" ", a, b)))
          .otherwise(array().cast("array<string>")))).as("f"))
      .select($"doc_id", $"lang", $"source",
        pmod(graft.functions.Hashing.md5Bits32(concat(lit("dsir:"), $"f"), 1),
          lit(nBuckets.toLong)).as("b"))
  }

  /** The memoized per-bucket count table over `hashedFeats`: corpus
    * counts (cr) plus target-language counts (ct, a conditional sum
    * riding the same pass). Shared by q90 (needs cr+ct) and q96 (needs
    * only the targetLang-independent cr — it rides the default-target
    * entry purely to share the corpus pass).
    */
  private val dsirBuckets = shared("dsirHashedBuckets", cache = true,
      (DsirLang, DsirBuckets), (p: (String, Int)) => Seq(p._1, p._2.toString)) {
    case (spark, d, (targetLang, nBuckets)) =>
      import spark.implicits._
      hashedFeats(spark, d, nBuckets).groupBy($"b").agg(count(lit(1)).as("cr"),
        sum(when($"lang" === targetLang, 1L).otherwise(0L)).as("ct"))
  }

  /** The target language and bucket space the DSIR entry points default
    * to, and the bucket table the builds warm.
    */
  final val DsirLang = "en"
  final val DsirBuckets = 4096

  def dsirHashedWeights(spark: SparkSession, d: String,
      targetLang: String = DsirLang, nBuckets: Int = DsirBuckets): DataFrame = {
    import spark.implicits._
    val feats = hashedFeats(spark, d, nBuckets)
    val buckets = dsirBuckets(spark, d, (targetLang, nBuckets))
    val trRow = buckets.agg(sum($"cr"), sum($"ct")).head()
    val tr = graft.core.Scalars.longAt(trRow, 0, 0L)
    val tt = graft.core.Scalars.longAt(trRow, 1, 0L)
    val scores = buckets.select($"b",
      round((log2(($"ct" + 1).cast("double") / lit((tt + nBuckets).toDouble)) -
        log2(($"cr" + 1).cast("double") / lit((tr + nBuckets).toDouble)))
        * lit(1000000.0)).cast("long").as("sq"))
    feats.join(broadcast(scores), "b")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_feats"), sum($"sq").as("logratio_q"))
      .select($"doc_id", $"n_feats", $"logratio_q",
        ($"logratio_q".cast("double") / lit(1000000.0)).as("log_ratio"))
  }

  /** Per-SOURCE distribution drift: KL(p_source ‖ p_corpus) in bits over
    * the hashed unigram+bigram bucket space — the "did a scraper break /
    * did a source shift under us" monitor a multi-source pipeline runs
    * per ingest. Both LMs are add-one smoothed over the fixed bucket
    * space (the q90 discipline), so every bucket contributes finitely.
    *
    * Exactness: a float SUM of 4096 KL terms would be partial-
    * aggregation-order dependent — instead each (source, bucket) term
    * quantizes once to a 1e12 integer (terms are O(p·bits) ≈ 1e-3, so
    * 1e12 keeps ~9 significant digits) and per-source totals are exact
    * integer adds, reproducible across engines and partitionings.
    *
    * Scale: one (source, bucket) aggregate (map-side combined, key space
    * |sources|·nBuckets) joined against the nBuckets-row corpus table;
    * per-source token totals ride the same aggregate.
    */
  def sourceDivergence(spark: SparkSession, d: String,
      nBuckets: Int = DsirBuckets): DataFrame = {
    import spark.implicits._
    val feats = hashedFeats(spark, d, nBuckets)
    // corpus bucket counts ride q90's memoized table (cr is targetLang-
    // independent) — one corpus pass serves both operators per session
    val corpus = dsirBuckets(spark, d, (DsirLang, nBuckets)).select($"b", $"cr".as("cb"))
    val nTotal = graft.core.Scalars.longAt(corpus.agg(sum($"cb")).head(), 0, 0L)
    val bySource = feats.groupBy($"source", $"b").agg(count(lit(1)).as("csb"))
    val totals = bySource.groupBy($"source").agg(sum($"csb").as("ns"))
    // every (source, bucket) pair over the FULL bucket space contributes
    // — buckets neither side hit still carry smoothed mass, and dropping
    // them would truncate both distributions (a truncated "KL" can go
    // negative). |sources| × nBuckets rows, bounded by construction.
    val grid = spark.range(nBuckets).toDF("b").crossJoin(totals)
      .join(corpus, Seq("b"), "left")
      .join(bySource, Seq("source", "b"), "left")
      .select($"source", $"ns",
        coalesce($"csb", lit(0L)).as("csb"),
        coalesce($"cb", lit(0L)).as("cb"))
    val ps = ($"csb" + 1).cast("double") / ($"ns" + nBuckets).cast("double")
    val pc = ($"cb" + 1).cast("double") / lit((nTotal + nBuckets).toDouble)
    val termQ = round(ps * (log2(ps) - log2(pc)) * lit(1000000000000.0)).cast("long")
    grid.select($"source", $"ns", termQ.as("tq"))
      .groupBy($"source")
      .agg(max($"ns").as("n_feats"), sum($"tq").as("kl_q"))
      .select($"source", $"n_feats", $"kl_q",
        ($"kl_q".cast("double") / lit(1000000000000.0)).as("kl_bits"))
  }

  /** Per-source corpus datasheet — the one-query report a pipeline run
    * publishes: volume (docs, chars, BPE-budget tokens), diversity
    * (languages, exact-duplicate docs via distinct fingerprints), and a
    * quality marker (median mean-token-length). Every column is an exact
    * aggregate (counts, integer sums, count distinct, exact percentile)
    * so the datasheet is reproducible and oracle-checked.
    *
    * Scale: one pass over the corpus into a |sources|-row result; the
    * distinct-fingerprint count is the only expansion (two-phase
    * distinct agg) — at extreme scale it downgrades to approx_count_
    * distinct with an error-bound oracle like q44.
    */
  def corpusReport(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    documents(spark, d)
      .select($"source", $"lang", $"n_chars",
        md5Fingerprint($"text").as("fp"),
        tokenSum(tokens($"text"), bpePieces).as("bpe"),
        (length(regexp_replace(trim(lower($"text")), "\\s+", " ")).cast("double") /
          size(tokens($"text"))).as("mtl"))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_chars").as("n_chars"),
        sum($"bpe").as("bpe_tokens"),
        countDistinct($"lang").as("n_langs"),
        (count(lit(1)) - countDistinct($"fp")).as("n_exact_dups"),
        percentile($"mtl", lit(0.5)).as("p50_mean_tok_len"))
  }

  /** The 100 TB form of `corpusReport`'s two expansion cells: the exact
    * distinct-fingerprint count downgrades to approx_count_distinct
    * (HLL++) and the exact median mean-token-length to approx_percentile
    * (KLL) — both MERGEABLE sketches (map-side combined, no per-group
    * value buffering). Like q44, the emitted columns are the sketch
    * ERROR-BOUND CONTRACT, not the raw estimates: booleans asserting each
    * estimate sits inside the exact rank/cardinality band, which is what
    * an engine-independent oracle can pin (the exact-side probes are the
    * verification harness, not the operator — a production run samples
    * them).
    */
  def corpusReportApprox(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val base = documents(spark, d).select($"source",
      md5Fingerprint($"text").as("fp"),
      (length(regexp_replace(trim(lower($"text")), "\\s+", " ")).cast("double") /
        size(tokens($"text"))).as("mtl"))
    val approx = base.groupBy($"source").agg(
      approx_count_distinct($"fp", 0.05).as("approx_fps"),
      approx_percentile($"mtl", lit(0.5), lit(1000)).as("approx_p50"))
    val exact = base.groupBy($"source").agg(
      count(lit(1)).as("n_docs"),
      countDistinct($"fp").as("exact_fps"),
      percentile($"mtl", lit(0.47)).as("p47"),
      percentile($"mtl", lit(0.53)).as("p53"))
    approx.join(exact, "source")
      .select($"source", $"n_docs",
        (abs($"approx_fps" - $"exact_fps") <=
          $"exact_fps" * 0.15).as("fp_in_bound"),
        ($"approx_p50" >= $"p47" && $"approx_p50" <= $"p53").as("p50_in_bound"))
  }

  /** Corpus-calibrated quality filter: instead of a hand-picked
    * constant, the keep-band derives from the corpus itself — documents
    * whose mean surprisal sits within ±20 % of the corpus MEDIAN pass
    * (drops both garble — too surprising — and degenerate repetition —
    * too predictable). The adaptive-threshold pattern every production
    * filter uses, as one declarative plan.
    *
    * Scale: the median is one exact-percentile aggregate down to a
    * single row, broadcast back over the score stream — at corpus scale
    * swap in approx_percentile and re-oracle the band edges; the
    * comparison itself is scan-stage.
    */
  def calibratedFilter(spark: SparkSession, d: String,
      band: Double = 0.2): DataFrame = {
    import spark.implicits._
    val scores = surprisal(spark, d).select($"doc_id", $"mean_surprisal")
    val med = scores.agg(
      percentile($"mean_surprisal", lit(0.5)).as("med"))
    scores.join(broadcast(med))
      .select($"doc_id", $"mean_surprisal", $"med",
        (abs($"mean_surprisal" - $"med") <= lit(band) * $"med").as("keep"))
  }

  /** The 100 TB form of `calibratedFilter`: the corpus median comes from
    * approx_percentile (mergeable KLL sketch — no all-values buffer)
    * instead of the exact sort-based percentile. Because the approx
    * median moves within its rank-error band, per-document keep flags
    * near the band edge are not engine-pinnable — so, like q44, the
    * output is the ERROR-BOUND CONTRACT: the approx median must sit in
    * the exact p47..p53 band, and the approx keep COUNT must sit between
    * the keep counts of the band's extreme medians. For any median m in
    * [p47, p53], the keep interval [(1−band)m, (1+band)m] contains
    * [(1−band)·p53, (1+band)·p47] and is contained in
    * [(1−band)·p47, (1+band)·p53] — those two counts bracket every
    * admissible keep count, so the booleans are exactly TRUE whenever the
    * sketch honors its rank guarantee. The exact percentiles are the
    * verification probe (sampled at production scale), not the operator.
    */
  def calibratedFilterApprox(spark: SparkSession, d: String,
      band: Double = 0.2): DataFrame = {
    import spark.implicits._
    val scores = surprisal(spark, d).select($"doc_id", $"mean_surprisal")
    val med = scores.agg(
      approx_percentile($"mean_surprisal", lit(0.5), lit(1000)).as("amed"),
      percentile($"mean_surprisal", lit(0.47)).as("p47"),
      percentile($"mean_surprisal", lit(0.53)).as("p53"))
    scores.join(broadcast(med))
      .agg(
        count(lit(1)).as("n_docs"),
        max($"amed" >= $"p47" && $"amed" <= $"p53").as("med_in_bound"),
        sum(when(abs($"mean_surprisal" - $"amed") <= lit(band) * $"amed",
          1L).otherwise(0L)).as("keep_approx"),
        sum(when($"mean_surprisal" >= lit(1 - band) * $"p53" &&
          $"mean_surprisal" <= lit(1 + band) * $"p47",
          1L).otherwise(0L)).as("keep_lo"),
        sum(when($"mean_surprisal" >= lit(1 - band) * $"p47" &&
          $"mean_surprisal" <= lit(1 + band) * $"p53",
          1L).otherwise(0L)).as("keep_hi"))
      .select($"n_docs", $"med_in_bound",
        ($"keep_lo" <= $"keep_approx" &&
          $"keep_approx" <= $"keep_hi").as("keep_in_bound"))
  }

  /** Sliding-window chunking: split each document's token stream into
    * fixed-size chunks of `chunkSize` tokens advancing by `stride`
    * (overlap = chunkSize − stride) — the context-window preparation
    * step before tokenizer packing. One explode in the scan stage, no
    * shuffle; output volume = tokens/stride per doc.
    */
  def chunk(spark: SparkSession, d: String,
      chunkSize: Int = 32, stride: Int = 24): DataFrame = {
    import spark.implicits._
    documents(spark, d)
      .select($"doc_id", tokens($"text").as("ws"))
      .select($"doc_id", $"ws",
        explode(sequence(lit(0), size($"ws") - 1, lit(stride))).as("start"))
      .select($"doc_id",
        ($"start" / stride).cast("long").as("chunk_id"),
        array_join(slice($"ws", $"start" + 1, lit(chunkSize)), " ").as("chunk_text"),
        least(lit(chunkSize), size($"ws") - $"start").cast("long").as("n_tokens"))
  }

  /** q121: exact per-source robust location/scale profile — median and
    * MAD (median absolute deviation) of document length, plus the count
    * of |x − med| > k·MAD outliers. The robust twin of q76's mean-based
    * datasheet: one pathological crawl batch moves a mean arbitrarily
    * but shifts the median by at most one rank.
    *
    * Exactness: medians are rank-picked — row_number over (x, doc_id),
    * keep the one or two middle ranks ((n+1) div 2, (n+2) div 2), exact
    * integer-division rank arithmetic — so the median is an integer or
    * half-integer, the deviations are exact half-integer doubles, and
    * the MAD (a two-value mean of those) is exact to the quarter. No
    * percentile_approx, no engine-specific interpolation.
    *
    * Scale: this is the EXACT-gold rung — two per-source sort windows
    * (the price of true medians); the sketch path at 100 TB is q80's
    * mergeable KLL quantiles, which this rung exists to validate. The
    * per-source partition keeps the sorts group-local, never global.
    */
  def robustSourceStats(spark: SparkSession, d: String, madK: Int = 3): DataFrame = {
    import spark.implicits._
    // ONE full-data pass: the (source, n_chars) CLASS HISTOGRAM — value
    // cardinality is corpus-sublinear (document lengths repeat), the
    // aggregate map-side combines, and every later phase (both medians,
    // the MAD deviation re-bucket, the outlier count) runs on |classes|
    // rows. The row-level form this replaced ranked the full table twice
    // (two range shuffles + a row join); here the raw rows are never
    // shuffled again after the first combine.
    val hist = Lineage.counted(
      documents(spark, d).groupBy($"source", $"n_chars".as("x"))
        .agg(count(lit(1)).as("cnt"))).df
    // weighted median over a class histogram: inclusive prefix counts
    // give each class its rank span [lo, hi]; the middle ranks
    // (n+1)/2, (n+2)/2 select 1–2 covering classes, and the weighted
    // average reproduces the row form's sum/count over the picked rows
    // bit-for-bit (w ∈ {1, 2}; multiplication by w is exact). The
    // per-source window is NOT the hot-group hazard the row form had:
    // a source's class count is bounded by its distinct VALUE count
    // (≤ max document length for n_chars, ≤ 2× that for |x − median|),
    // a constant that does not grow with corpus rows — so one sort
    // partition per source holds the whole histogram at any scale.
    def medianOfHist(h: DataFrame, valCol: String, out: String): DataFrame = {
      graft.operators.Ranks.classSpans(h, Seq($"source"), col(valCol), $"cnt")
        .withColumn("m1", expr("(n + 1) div 2"))
        .withColumn("m2", expr("(n + 2) div 2"))
        .withColumn("w",
          ($"lo" <= $"m1" && $"m1" <= $"hi").cast("long") +
          ($"m1" =!= $"m2" && $"lo" <= $"m2" && $"m2" <= $"hi").cast("long"))
        .filter($"w" > 0L)
        .groupBy($"source")
        .agg((sum(col(valCol) * $"w").cast("double") / sum($"w")).as(out))
    }
    val med = medianOfHist(hist, "x", "median_chars")
    // deviation classes derive from the VALUE histogram, not the rows:
    // |x − median| collapses at most two value classes per dev class
    val devHist = Lineage.counted(
      hist.join(broadcast(med), "source")
        .withColumn("dev", abs($"x".cast("double") - $"median_chars"))
        .groupBy($"source", $"dev").agg(sum($"cnt").as("cnt"))).df
    val mad = medianOfHist(devHist, "dev", "mad_chars")
    devHist.join(broadcast(med), "source").join(broadcast(mad), "source")
      .groupBy($"source")
      .agg(sum($"cnt").as("n_docs"),
        max($"median_chars").as("median_chars"),
        max($"mad_chars").as("mad_chars"),
        sum(($"dev" > lit(madK) * $"mad_chars").cast("long") * $"cnt")
          .as("n_outliers"))
  }

  /** q122: PMI collocations — the top-k bigram types by pointwise mutual
    * information log2(c12·T / (c1·c2)) with a minimum-count floor
    * (Church & Hanks' association ratio; the collocation miner that
    * feeds tokenizer merge seeding and phrase vocabularies). Marginals
    * c1/c2/T are derived FROM the memo-shared bigram table (q73/q77/q83/
    * q100/q107's lineage), so the whole query adds two small aggregates
    * and a driver scalar to an already-cached build.
    *
    * The PMI ratio is computed in doubles from exact integer counts
    * (each < 2⁵³, so the casts are exact and a long product could never
    * overflow the way c12·T would at corpus scale), one identical-shape
    * expression per engine, quantized to 1e6. Top-k via orderBy+limit —
    * TakeOrderedAndProject, per-partition heaps, never a global sort.
    */
  def pmiCollocations(spark: SparkSession, d: String,
      minCount: Long = 5, k: Int = 50): DataFrame = {
    import spark.implicits._
    val bc = bigramCounts(spark, d)
    val c1 = bc.groupBy($"w1").agg(sum($"c12").as("c1"))
    val c2 = bc.groupBy($"w2").agg(sum($"c12").as("c2"))
    val t = graft.core.Scalars.longAt(bc.agg(sum($"c12")).head(), 0, 1L)
    bc.filter($"c12" >= minCount)
      .join(c1, "w1").join(c2, "w2")
      .select($"w1", $"w2", $"c12",
        round(log2(($"c12".cast("double") * lit(t.toDouble)) /
          ($"c1".cast("double") * $"c2".cast("double"))) * lit(1000000.0))
          .cast("long").as("pmi_q"))
      .orderBy($"pmi_q".desc, $"w1", $"w2").limit(k)
  }

  /** The Gopher quality rules' required-word set (Rae et al. 2021 §A1.1,
    * the "must contain ≥ 2 of" stop list — a distinct, smaller list than
    * the reference's 29-word TF-IDF stop list).
    */
  val GopherRequiredWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** q117: Gopher-style document quality gate (Rae et al. 2021 §A1.1,
    * the rule set C4/RefinedWeb-descended pipelines run first): word
    * count in [50, 100 000]; mean word length in [3, 10]; ≥ 80 % of
    * words contain an alphabetic character; < 10 % of words are
    * symbol-bearing (# or …); ≥ 2 distinct required stop words present.
    * Emits the raw counters, each rule's verdict, and the conjunction —
    * counters kept so downstream can re-threshold without a rescan.
    *
    * Every ratio rule is evaluated as an EXACT integer cross-product
    * (10·n_alpha ≥ 8·n_words, not n_alpha/n_words ≥ 0.8); the one
    * emitted double (mean word length) is a single division of exact
    * integers. One scan-stage projection per document, no joins, no
    * shuffle — at 100 TB this is a map-only pass that fuses into
    * whatever reads it next.
    *
    * `required` defaults to Gopher's own 8-word list; the q117 harness
    * row passes the reference 29-word stop list instead, because the
    * synthetic corpus models only "the"/"a" of the canonical 8 — with
    * the canonical set pass_req would be constant-false at every SF (a
    * fixture artifact, not an operator property).
    */
  def gopherQuality(spark: SparkSession, d: String,
      required: Seq[String] = GopherRequiredWords): DataFrame = {
    import spark.implicits._
    gopherFlags(documents(spark, d).select($"doc_id", $"text"),
      Seq($"doc_id"), required)(spark)
  }

  /** The shared rule projection behind q117/q222: appends the Gopher
    * counters, per-rule verdicts, and the conjunction to any frame with
    * a `text` column, carrying `keep` through. Map-only — one
    * scan-stage projection, no shuffle; q117 keys it by doc_id, q222 by
    * source so the matrix aggregate needs no join back.
    */
  private def gopherFlags(df: DataFrame, keep: Seq[Column],
      required: Seq[String])(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val ws = filter(tokens($"text"), t => length(t) > 0)
    df.select(keep :+ ws.as("w"): _*)
      .select(keep ++ Seq[Column](
        size($"w").cast("long").as("n_words"),
        aggregate($"w", lit(0L), (acc, t) => acc + length(t)).as("n_wchars"),
        size(filter($"w", t => t.rlike("[a-z]"))).cast("long").as("n_alpha"),
        size(filter($"w", t => t.contains("#") || t.contains("...")))
          .cast("long").as("n_sym"),
        size(array_intersect(array_distinct($"w"),
          typedLit(required))).cast("long").as("n_req")): _*)
      .select(keep ++ Seq[Column]($"n_words", $"n_wchars",
        ($"n_wchars".cast("double") / $"n_words".cast("double"))
          .as("mean_wlen"),
        $"n_alpha", $"n_sym", $"n_req",
        ($"n_words" >= 50 && $"n_words" <= 100000).as("pass_words"),
        ($"n_wchars" >= $"n_words" * 3 && $"n_wchars" <= $"n_words" * 10)
          .as("pass_mean"),
        ($"n_alpha" * 10 >= $"n_words" * 8).as("pass_alpha"),
        ($"n_sym" * 10 < $"n_words").as("pass_sym"),
        ($"n_req" >= 2).as("pass_req")): _*)
      .withColumn("pass",
        $"pass_words" && $"pass_mean" && $"pass_alpha" && $"pass_sym" && $"pass_req")
  }

  /** q222: per-source Gopher rule-failure matrix — for each source:
    * docs, per-rule failure counts (words/mean-length/alpha/symbol/
    * required-words), overall pass count, and the 1e6-quantized pass
    * rate. The "which rule kills which source" curation dial: q117
    * emits the per-doc verdicts, this attributes the kill mass so a
    * mixture designer can see that e.g. one crawl source fails almost
    * entirely on the symbol rule (a markup-stripping bug upstream)
    * while another fails on length (fragments) — different remediations
    * for the same headline pass rate.
    *
    * Shape: the shared `gopherFlags` projection keyed by `source`
    * directly (no doc-keyed join back), then ONE |sources|-row
    * aggregate with partial map-side combine — at 100 TB a map-only
    * scan plus a 20-row exchange.
    */
  def sourceRuleMatrix(spark: SparkSession, d: String,
      required: Seq[String] = graft.functions.TextFunctions.StopWords): DataFrame = {
    import spark.implicits._
    gopherFlags(documents(spark, d).select($"source", $"text"),
      Seq($"source"), required)(spark)
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(!$"pass_words", 1L).otherwise(0L)).as("fail_words"),
        sum(when(!$"pass_mean", 1L).otherwise(0L)).as("fail_mean"),
        sum(when(!$"pass_alpha", 1L).otherwise(0L)).as("fail_alpha"),
        sum(when(!$"pass_sym", 1L).otherwise(0L)).as("fail_sym"),
        sum(when(!$"pass_req", 1L).otherwise(0L)).as("fail_req"),
        sum(when($"pass", 1L).otherwise(0L)).as("n_pass"))
      .select($"source", $"n_docs", $"fail_words", $"fail_mean",
        $"fail_alpha", $"fail_sym", $"fail_req", $"n_pass",
        round($"n_pass".cast("double") / $"n_docs".cast("double")
          * lit(1000000.0)).cast("long").as("pass_rate_q6"))
  }

  /** q228: quality-rule ablation — each Gopher rule's kill mass split
    * into UNIQUE kills (docs failing ONLY that rule — exactly the docs
    * the corpus regains if the rule is dropped, so `regain_q6` is the
    * pass-rate lift of the ablation) vs SHARED kills (some other rule
    * also rejects the doc, so dropping this one changes nothing). The
    * dial q222's per-source matrix cannot answer: two rules with equal
    * fail counts can have wildly different marginal value — a rule
    * whose kills are 95% shared is near-free to drop (cheaper to
    * compute at 100 TB, zero yield change), while a high-unique rule is
    * load-bearing. Inclusion–exclusion without enumerating the 2^5
    * lattice: unique(r) = fail(r) ∧ pass(all others) needs only one
    * conjunction per rule, computable in the same pass.
    *
    * Shape: the SAME shared map-only `gopherFlags` projection as
    * q117/q222, ONE global aggregate (12 conditional sums with partial
    * map-side combine → a single row), then a 5-row `stack` over the
    * aggregated scalars — at 100 TB a scan plus a 1-row exchange; the
    * unpivot touches five rows, never the data.
    */
  def ruleAblation(spark: SparkSession, d: String,
      required: Seq[String] = graft.functions.TextFunctions.StopWords): DataFrame = {
    import spark.implicits._
    val f = gopherFlags(documents(spark, d).select($"text"),
      Seq.empty, required)(spark)
    val rules = Seq("words", "mean", "alpha", "sym", "req")
    def othersPass(r: String): Column =
      rules.filter(_ != r).map(o => col(s"pass_$o")).reduce(_ && _)
    val aggs = Seq(count(lit(1)).as("n_docs"),
        sum(when($"pass", 1L).otherwise(0L)).as("n_pass")) ++
      rules.flatMap { r => Seq(
        sum(when(!col(s"pass_$r"), 1L).otherwise(0L)).as(s"fail_$r"),
        sum(when(!col(s"pass_$r") && othersPass(r), 1L).otherwise(0L))
          .as(s"uniq_$r"))
      }
    val one = f.agg(aggs.head, aggs.tail: _*)
    val stackArgs = rules.map(r => s"'$r', fail_$r, uniq_$r").mkString(", ")
    one.select($"n_docs", $"n_pass",
        expr(s"stack(${rules.size}, $stackArgs) AS (rule, fail_total, fail_unique)"))
      .select($"rule", $"fail_total", $"fail_unique",
        ($"fail_total" - $"fail_unique").as("fail_shared"),
        round($"fail_unique".cast("double") / $"n_docs".cast("double")
          * lit(1000000.0)).cast("long").as("regain_q6"))
  }

  /** q124: Gopher repetition signals (Rae et al. 2021, §A1.1 — the
    * repetition-rule half that complements q117's quality gate): per
    * document,
    *  - `top{2,3,4}` / `top{2,3,4}_frac`: the multiplicity of the most
    *    frequent token n-gram and the token fraction it covers
    *    (count·n / n_tokens — occurrences may overlap, so the score can
    *    exceed 1 on degenerate docs, as in the paper);
    *  - `dup3_cov` / `dup3_frac`: the number of token positions covered
    *    by 3-grams that repeat WITHIN the doc (interval union over
    *    duplicate-gram spans — the within-doc analogue of q88's
    *    cross-doc coverage; the paper uses n = 5…10, but the synthetic
    *    corpus' within-doc repetition lives at n ≤ 4, and n = 3 keeps
    *    the nonzero path oracle-exercised).
    *
    * Scale: the top-n multiplicities are MAP-ONLY — sort the per-doc
    * shingle array once and take the longest equal-adjacent run with a
    * single `aggregate` fold, so at 100 TB they are scan-stage columns
    * with zero shuffle. Only the dup-5 coverage shuffles, once, on
    * (doc_id, gram) — a high-entropy key — then unions intervals with
    * the q88 gaps-and-islands window partitioned per doc.
    */
  /** q136: rank-normalized quality — each document's stop-word ratio
    * (q18's signal) percentile-ranked WITHIN its language: pr =
    * (rank − 1)/(n − 1) with `rank()` tie semantics, plus the decile
    * bucket. Cross-language score calibration — raw quality signals are
    * not comparable across languages, ranks are (the CCNet/q100 move,
    * generalized to any signal). The ratio is a division of exact
    * integers, so tie GROUPS are bit-identical cross-engine and the
    * percent-rank is value-exact.
    *
    * Scale: NO per-language sort partition — `Ranks.groupRank`'s
    * class-histogram construction: the (lang, stop_ratio) tie classes
    * are one hash aggregate, their counts take
    * a distributed exclusive prefix-sum under the (lang, score) range
    * order (a language is a contiguous RANGE of that order, spread over
    * many range partitions), and rank-within-lang = class prefix −
    * (lang's first prefix) + 1 — rank() semantics (ties share)
    * without any lang-partitioned window; the |langs|-row offset table
    * broadcasts. Memo-cached: five downstream queries (q138 filter,
    * q146/q149 manifests, q156 curriculum, q161 committee) ride this
    * calibration.
    */
  val qualityRank = shared("qualityRank", cache = true) { (spark, d) =>
    import spark.implicits._
    val q = qualityScore(spark, d).select($"doc_id", $"stop_ratio")
      .join(documents(spark, d).select($"doc_id", $"lang"), "doc_id")
    val ranked = graft.operators.Ranks.groupRank(q, "rnk",
      Seq($"lang"), Seq($"stop_ratio"))
    val langN = ranked.groupBy($"lang").agg(count(lit(1)).as("n"))
    ranked.join(broadcast(langN), "lang")
      .select($"doc_id", $"lang", $"stop_ratio", $"rnk",
        when($"n" === 1L, lit(0.0))
          .otherwise(($"rnk" - 1L).cast("double") / ($"n" - 1L).cast("double"))
          .as("pr"))
      .withColumn("decile", least(floor($"pr" * 10), lit(9.0)).cast("long"))
  }

  /** The lang-partitioned single-window form — the directly-oracle-
    * mirrorable reference rung (one `rank()` per language = one sort
    * partition per language at corpus scale); kept as the spec's
    * equality reference for the distributed form above.
    */
  private[graft] def qualityRankWindow(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val q = qualityScore(spark, d).select($"doc_id", $"stop_ratio")
      .join(documents(spark, d).select($"doc_id", $"lang"), "doc_id")
    val w = Window.partitionBy($"lang").orderBy($"stop_ratio")
    q.withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"lang")))
      .select($"doc_id", $"lang", $"stop_ratio", $"rnk",
        when($"n" === 1L, lit(0.0))
          .otherwise(($"rnk" - 1L).cast("double") / ($"n" - 1L).cast("double"))
          .as("pr"))
      .withColumn("decile", least(floor($"pr" * 10), lit(9.0)).cast("long"))
  }

  /** q249: per-source quality-percentile panel — q136's within-language
    * rank calibration rolled up to the mixture designer's actual
    * question: per source, the mean calibrated percentile (per-doc pr
    * quantized to 1e6 BEFORE the sum — exact integer fold) and the
    * share of docs in the TOP decile. Raw quality signals are not
    * comparable across languages (the whole point of q136), so this is
    * the only per-source quality comparison that is legitimate on a
    * multilingual corpus: a source whose mean percentile sits at 0.35
    * supplies mostly below-median text in every language it ships, and
    * the q54/q101 mixture weights should know that BEFORE q138's filter
    * silently halves its contribution.
    *
    * Shape: rides the memo-shared q136 calibration (five other queries
    * already read it), one doc_id-keyed source join, ONE |sources|-row
    * aggregate.
    */
  def sourceQualityPanel(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    qualityRank(spark, d)
      .select($"doc_id", round($"pr" * lit(1000000.0)).cast("long").as("prq"),
        ($"decile" === 9L).as("top"))
      .join(documents(spark, d).select($"doc_id", $"source"), "doc_id")
      .groupBy($"source").agg(
        count(lit(1)).as("n_docs"),
        sum($"prq").as("sum_prq"),
        sum(when($"top", 1L).otherwise(0L)).as("n_top_decile"))
      .select($"source", $"n_docs",
        round($"sum_prq".cast("double") / $"n_docs".cast("double"))
          .cast("long").as("mean_pr_q6"),
        $"n_top_decile",
        round($"n_top_decile".cast("double") / $"n_docs".cast("double")
          * lit(1000000.0)).cast("long").as("top_share_q6"))
  }

  /** q138: rank-calibrated quality filtering — the decision q136's
    * calibration exists for: drop each language's worst `minDecile`
    * deciles (rank-based, so the SAME proportion is dropped from every
    * language regardless of its raw score distribution — the fair-
    * filtering property absolute thresholds lack) and report the kept /
    * dropped doc and token budgets per (lang, source). The FineWeb-style
    * "filter by calibrated quality, then count what's left for the
    * mixture" step.
    *
    * Scale: rides q136's single lang-window; the report is one
    * (lang, source) hash aggregate of booleans and an exact token sum.
    */
  def qualityFilter(spark: SparkSession, d: String, minDecile: Int = 2): DataFrame = {
    import spark.implicits._
    val qr = qualityRank(spark, d).select($"doc_id", $"decile")
    documents(spark, d)
      .select($"doc_id", $"lang", $"source",
        size(tokens($"text")).cast("long").as("ntok"))
      .join(qr, "doc_id")
      .groupBy($"lang", $"source")
      .agg(sum(($"decile" >= minDecile).cast("long")).as("n_kept"),
        sum(($"decile" < minDecile).cast("long")).as("n_dropped"),
        sum(when($"decile" >= minDecile, $"ntok").otherwise(0L)).as("kept_tokens"))
  }

  /** q140: per-document token entropy — Shannon H = Σ_t (c_t/n)·log2(n/c_t)
    * over the doc's token-type distribution, the vocabulary-diversity
    * quality signal (repetitive/templated docs score low; q51/q124
    * measure repetition mass, this measures the whole distribution).
    * Per-TYPE terms are 1e6-quantized after one identical-shape double
    * expression (the q77/q107 surprisal discipline), so the per-doc sum
    * is an exact integer both engines reproduce.
    *
    * Scale: one (doc, token) count aggregate with map-side combine, one
    * per-doc re-aggregate — both keyed by doc_id; no dictionaries, no
    * broadcast, no window.
    */
  // memo-cached (r17): q140 emits it and q161's committee re-reads the
  // entropy signal — each consumer re-ran the (doc, token) shuffle
  // aggregate; the cached table is one slim row per document
  val tokenEntropy = shared("tokenEntropy", cache = true) { (spark, d) =>
    import spark.implicits._
    val tc = documents(spark, d)
      .select($"doc_id", explode(tokens($"text")).as("w"))
      .groupBy($"doc_id", $"w").agg(count(lit(1)).as("c"))
    val n = tc.groupBy($"doc_id")
      .agg(sum($"c").as("n"), count(lit(1)).as("n_types"))
    tc.join(n, "doc_id")
      .select($"doc_id", $"n", $"n_types",
        round(($"c".cast("double") / $"n".cast("double"))
          * log2($"n".cast("double") / $"c".cast("double"))
          * lit(1000000.0)).cast("long").as("eq"))
      .groupBy($"doc_id")
      .agg(max($"n").as("n_tokens"), max($"n_types").as("n_types"),
        sum($"eq").as("entropy_q"))
  }

  /** q233: positional token entropy — for each of the first `maxPos`
    * token positions: the Shannon entropy (log2, q140's exact
    * quantized-term discipline) of the token DISTRIBUTION at that
    * position across the corpus, plus the modal token and its share.
    * The template/boilerplate-opening detector q61 (cross-doc n-gram
    * boilerplate) can't give: q61 needs a frequent n-gram anywhere,
    * this reads positional anchoring — a crawl whose docs all open with
    * the same header shows H(pos 1..k) collapsing toward 0 with
    * top_frac → 1, while a healthy corpus's positional entropy is flat
    * near the unigram entropy. Read before training: low-entropy
    * openings teach the model a spurious BOS template.
    *
    * Exactness: per-(pos, token) terms round((c/n)·log2(n/c)·1e6) are
    * quantized BEFORE the per-position sum (exact integer fold — the
    * q140 contract); the modal token is a struct-max on (count, token),
    * ties → greatest token, mirrored by the oracle's ORDER BY.
    *
    * Shape: one scan exploding only the first `maxPos` tokens per doc
    * (slice BEFORE explode — corpus cost is maxPos·|docs|, not
    * Σ doc_len), one (pos, token) hash aggregate with map-side combine,
    * a broadcast join against the ≤ maxPos-row position totals, and a
    * maxPos-row final aggregate. No window, nothing corpus-sized
    * shuffles twice.
    */
  def positionalEntropy(spark: SparkSession, d: String,
      maxPos: Int = 16): DataFrame = {
    import spark.implicits._
    val tc = documents(spark, d)
      .select(posexplode(slice(tokens($"text"), 1, maxPos)).as(Seq("p0", "w")))
      .select(($"p0" + 1).cast("long").as("pos"), $"w")
      .groupBy($"pos", $"w").agg(count(lit(1)).as("c"))
    val n = tc.groupBy($"pos")
      .agg(sum($"c").as("n"), count(lit(1)).as("n_types"))
    tc.join(broadcast(n), "pos")
      .select($"pos", $"n", $"n_types",
        round(($"c".cast("double") / $"n".cast("double"))
          * log2($"n".cast("double") / $"c".cast("double"))
          * lit(1000000.0)).cast("long").as("eq"),
        struct($"c", $"w").as("tw"))
      .groupBy($"pos").agg(
        max($"n").as("n_docs"), max($"n_types").as("n_types"),
        sum($"eq").as("entropy_q6"),
        max($"tw").as("top"))
      .select($"pos", $"n_docs", $"n_types", $"entropy_q6",
        $"top.w".as("top_token"), $"top.c".as("top_count"),
        round($"top.c".cast("double") / $"n_docs".cast("double")
          * lit(1000000.0)).cast("long").as("top_frac_q6"))
  }

  def topNgramRepetition(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Hashing.shinglesAll
    // longest run of equal adjacent elements in the SORTED array
    // == max multiplicity; one interpreted fold per row, no shuffle
    def maxMult(arr: Column): Column = aggregate(
      array_sort(arr),
      struct(lit("\u0000").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + lit(1L))
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    val toks = documents(spark, d).select($"doc_id", tokens($"text").as("w"))
    val tops = toks.select($"doc_id", size($"w").cast("long").as("n_tokens"),
      maxMult(shinglesAll($"w", 2)).as("top2"),
      maxMult(shinglesAll($"w", 3)).as("top3"),
      maxMult(shinglesAll($"w", 4)).as("top4"))
    // within-doc duplicated 3-grams → positional interval union
    val pg = toks.select($"doc_id",
        posexplode(shinglesAll($"w", 3)).as(Seq("p0", "s")))
      .select($"doc_id", ($"p0" + 1).as("p"), $"s")
    val occ = pg.groupBy($"doc_id", $"s").agg(count(lit(1)).as("c"))
      .filter($"c" >= 2)
      .join(pg, Seq("doc_id", "s"))
      .select($"doc_id", $"p")
    val w = Window.partitionBy($"doc_id").orderBy($"p")
      .rowsBetween(Window.unboundedPreceding, -1)
    val covered = occ
      .withColumn("prev_end", max($"p" + lit(2)).over(w))
      .select($"doc_id", greatest(lit(0),
        ($"p" + lit(2)) - greatest(coalesce($"prev_end", lit(0)), $"p" - 1)).as("add"))
      .groupBy($"doc_id").agg(sum($"add").as("dup3_cov"))
    tops.join(covered, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens",
        $"top2", (($"top2" * 2).cast("double") / $"n_tokens").as("top2_frac"),
        $"top3", (($"top3" * 3).cast("double") / $"n_tokens").as("top3_frac"),
        $"top4", (($"top4" * 4).cast("double") / $"n_tokens").as("top4_frac"),
        coalesce($"dup3_cov", lit(0L)).cast("long").as("dup3_cov"))
      .withColumn("dup3_frac", $"dup3_cov".cast("double") / $"n_tokens")
  }

  /** q158: cross-source vocabulary overlap — for every source pair, the
    * shared-type count, per-source vocabulary sizes, exact-integer
    * Jaccard, and the OOV rate of B's vocabulary against A (the "how
    * much new vocabulary does this source add" signal for mixture
    * planning and tokenizer-coverage audits).
    *
    * Scale design: the join input is the DISTINCT (source, type) set, so
    * every token key appears at most |sources| times — the self-join's
    * per-key fan-out is bounded by |sources|² regardless of corpus
    * token mass, and its key cardinality is the vocabulary (corpus-
    * sublinear). The per-source size table is |sources| rows, broadcast.
    * Ratios are exact integer floor-divisions (1e6-quantized) so both
    * engines agree bit-for-bit.
    */
  def vocabOverlap(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    // memo-cached: the distinct (source, type) set feeds THREE consumers
    // (both self-join sides + the size table) — without the cache each
    // one re-runs the tokenize+distinct corpus pass. Not a declared
    // build: q158 is its one catalog consumer
    val v = graft.core.Memo(spark, cache = true, "sourceVocab", d) {
      documents(spark, d)
        .select($"source", explode(cleanTokens($"text")).as("w"))
        .distinct()
    }
    val sizes = v.groupBy($"source").agg(count(lit(1)).as("vsz"))
    // one WORD-grouped pass instead of the self-join on w (r17, the
    // q111 basket reshape, guide §3.4/§2.3): collect_set folds each
    // word's source set into one exchange and the (src_a < src_b) pair
    // fan-out happens in the scan stage off the sorted set — plan is
    // group → pair agg (2 exchanges, no join) at any scale; per-word
    // fan-out stays bounded by |sources|² exactly as before. Sorted
    // distinct sets make (i < j) ≡ (src_a < src_b); the null filters
    // mirror the join's null-rejecting keys.
    val inter = v
      .filter($"w".isNotNull && $"source".isNotNull)
      .groupBy($"w")
      .agg(sort_array(collect_set($"source")).as("ss"))
      .select($"ss", posexplode($"ss").as(Seq("i", "src_a")))
      .select($"src_a", $"i", posexplode($"ss").as(Seq("j", "src_b")))
      .filter($"j" > $"i")
      .groupBy($"src_a", $"src_b")
      .agg(count(lit(1)).as("common"))
    inter
      .join(broadcast(sizes.as("sa")), $"src_a" === $"sa.source")
      .join(broadcast(sizes.as("sb")), $"src_b" === $"sb.source")
      .select($"src_a", $"src_b", $"common",
        $"sa.vsz".as("vocab_a"), $"sb.vsz".as("vocab_b"),
        expr("common * 1000000L div (sa.vsz + sb.vsz - common)")
          .as("jaccard_q6"),
        expr("(sb.vsz - common) * 1000000L div sb.vsz").as("oov_b_q6"))
  }

  /** q161: quality-committee ensemble — three independent quality signals
    * (stop-word ratio q18, alpha ratio q18, token entropy q140), each
    * rank-normalized within its language (the q136 calibration, so no
    * signal's raw scale dominates and no language is judged by another's
    * distribution), summed into an exact-integer committee score, then
    * percent-ranked into a decile. Rank-averaging is the robust way to
    * fuse signals with incomparable units — the document-quality
    * counterpart of q125's reciprocal-rank fusion.
    *
    * Scale: the signal derivations are the memo-shared q18/q140 lineages
    * (one (doc, token) aggregate + scan-stage HOFs); the three signal
    * ranks FUSE into one `Ranks.groupRank` machine via unpivot ((lang,
    * signal) group key) and the committee rank is a fourth — rank()
    * semantics without a lang-partitioned window, so a dominant
    * language is never one sort partition.
    */
  def qualityCommittee(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    // one pinned signal base; the three signals UNPIVOT into one
    // (lang, signal, value) stream ranked by ONE groupRank machine
    // ((lang, signal) is the group key — rank() semantics per signal
    // per language, one machine instead of three), then pivot back onto
    // the unique doc key. The double cast of entropy_q is exact (the
    // 1e6-quantized entropies are far below 2^53) and order-preserving,
    // so per-signal ranks are unchanged.
    val sig = Lineage.counted(qualityScore(spark, d)
      .select($"doc_id", $"stop_ratio", $"alpha_ratio")
      .join(tokenEntropy(spark, d).select($"doc_id", $"entropy_q"), "doc_id")
      .join(documents(spark, d).select($"doc_id", $"lang"), "doc_id")).df
    val stacked = sig.select($"doc_id", $"lang", expr(
      """stack(3, 'r_stop', stop_ratio, 'r_alpha', alpha_ratio,
        |  'r_ent', cast(entropy_q AS double)) AS (sig_name, v)"""
        .stripMargin))
    val ranks = graft.operators.Ranks.groupRankPinned(stacked, "r",
        Seq($"lang", $"sig_name"), Seq($"v"))
      .groupBy($"doc_id").pivot("sig_name", Seq("r_stop", "r_alpha", "r_ent"))
      .agg(first($"r"))
    val ranked = sig.join(ranks, "doc_id")
      .withColumn("committee", $"r_stop" + $"r_alpha" + $"r_ent")
    val last = graft.operators.Ranks.groupRank(ranked, "c_rnk",
      Seq($"lang"), Seq($"committee"))
    // sizes from the checkpointed rank output — not from `sig`, whose
    // signal lineage would otherwise run a second time
    val langN = last.groupBy($"lang").agg(count(lit(1)).as("n"))
    last
      .join(broadcast(langN), "lang")
      .withColumn("pr", when($"n" === 1L, lit(0.0))
        .otherwise(($"c_rnk" - 1L).cast("double") / ($"n" - 1L).cast("double")))
      .withColumn("decile", least(floor($"pr" * 10), lit(9.0)).cast("long"))
      .select($"doc_id", $"lang", $"r_stop", $"r_alpha", $"r_ent",
        $"committee", $"c_rnk", $"decile")
  }

  /** q198: span-corruption mask plan — the deterministic T5/UL2-style
    * denoising layout a pretraining pipeline computes per document
    * BEFORE tokenizer sharding: position p seeds a mask span iff
    * md5("span:doc:p") ≡ 0 (mod `density`), every seed masks
    * [p, p+spanLen), overlapping spans merge, and the plan row reports
    * the exact mask geometry (token count, merged span count, masked
    * tokens, 1e6-quantized mask ratio ≈ 1 − (1−1/density)^spanLen).
    * Hash-seeded, so the mask is reproducible from (doc_id, position)
    * alone — any worker can re-derive its shard's masks with no
    * coordination, the same property the q52 split hashing relies on.
    *
    * Scale: pure scan stage — the seed array, the mask array (a
    * position is masked iff ANY of its spanLen predecessors seeds, a
    * bounded lookback, no window), and the island count (mask start =
    * masked ∧ ¬masked(p−1)) are three HOFs over attribute-projected
    * arrays; no shuffle at all before the (nonexistent) aggregate —
    * one output row per input row.
    */
  def spanCorruptionPlan(spark: SparkSession, d: String,
      density: Int = 8, spanLen: Int = 3): DataFrame = {
    import spark.implicits._
    // project each derived array to an ATTRIBUTE before the next HOF
    // references it (interpreted lambdas re-evaluate non-attribute
    // children per element — the Hashing.scala discipline)
    val seeded = documents(spark, d)
      .select($"doc_id", size(tokens($"text")).as("n"))
      .select($"doc_id", $"n",
        transform(sequence(lit(1), $"n"), p =>
          when(graft.functions.Hashing.md5Bits32(concat(lit("span:"),
              $"doc_id".cast("string"), lit(":"), p.cast("string")), 1)
            % density === 0, 1L).otherwise(0L)).as("seed"))
    val masked = seeded.select($"doc_id", $"n",
      transform(sequence(lit(1), $"n"), p =>
        greatest((0 until spanLen).map(k =>
          when(p > k, element_at($"seed", (p - k).cast("int")))
            .otherwise(lit(0L))): _*)).as("mk"))
    masked.select($"doc_id", $"n".cast("long").as("n_tokens"),
        aggregate($"mk", lit(0L), (a, x) => a + x).as("n_masked"),
        aggregate(sequence(lit(1), $"n"), lit(0L), (a, p) =>
          a + when(element_at($"mk", p.cast("int")) === 1L &&
              (p === 1 || element_at($"mk", (p - 1).cast("int")) === 0L),
            1L).otherwise(0L)).as("n_spans"))
      .select($"doc_id", $"n_tokens", $"n_spans", $"n_masked",
        expr("n_masked * 1000000L div n_tokens").as("mask_q6"))
  }

  /** q200: vocabulary coverage / OOV audit — for each source, the share
    * of its token OCCURRENCES covered by the global top-`topN`
    * vocabulary (the q83 two-phase rank order: count desc, word asc).
    * This is the go/no-go check before freezing a tokenizer vocab: a
    * source whose coverage is far below the corpus mean will shatter
    * into UNK/byte fallbacks and its effective sequence length silently
    * explodes. Reports exact occurrence counts, distinct-type counts,
    * and 1e6-quantized coverage/OOV rates.
    *
    * Scale: the vocabulary is corpus-sublinear and memo-shared
    * (`rankedVocab`); the top-N cut broadcasts to the one token scan;
    * the aggregate is (source)-keyed with map-side combine.
    */
  def vocabCoverage(spark: SparkSession, d: String,
      topN: Int = 1000): DataFrame = {
    import spark.implicits._
    val top = rankedVocab(spark, d).filter($"token_id" <= topN)
      .select($"w", lit(1L).as("__in"))
    documents(spark, d)
      .select($"source", explode(tokens($"text")).as("w"))
      .join(broadcast(top), Seq("w"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_occ"),
        sum(coalesce($"__in", lit(0L))).as("n_covered"),
        count_distinct($"w").as("n_types"),
        count_distinct(when($"__in".isNull, $"w")).as("n_oov_types"))
      .select($"source", $"n_occ", $"n_covered", $"n_types", $"n_oov_types",
        expr("n_covered * 1000000L div n_occ").as("covered_q6"),
        expr("(n_occ - n_covered) * 1000000L div n_occ").as("oov_q6"))
  }
}
