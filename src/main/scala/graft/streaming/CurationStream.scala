package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.TextFunctions._

/** The corpus-curation pipeline in STREAMING form — the continuous-ingest
  * counterpart of `operators.Pipeline.curateCorpus`: a crawl feed is
  * quality-gated in the scan stage, content-deduplicated with
  * watermark-bounded state, and admitted against a per-source token
  * budget held in keyed state. Same column expressions as the batch
  * pipeline (SURVEY §7.2.2's batch≡stream discipline); only the
  * source/watermark/state plumbing differs.
  */
object CurationStream {

  /** A crawl-feed document row for MemoryStream-driven tests. */
  case class StreamDoc(doc_id: Long, ts: Timestamp, text: String, source: String)

  /** An admission decision: the doc, its token cost, and the source
    * budget consumed through (and including) it.
    */
  case class Admitted(doc_id: Long, source: String, n_tokens: Long, budget_used: Long)

  /** Scan-stage quality gate — the streaming twin of the batch
    * pipeline's filter: minimum token count and a top-token-fraction
    * repetition cap, all stateless column math (no watermark needed).
    */
  def qualityGate(docs: DataFrame, minTokens: Int = 5,
      maxTopFrac: Double = 0.8): DataFrame = {
    val ws = tokens(col("text"))
    // top-token multiplicity as ONE sorted run-length pass (the
    // Text.topNgramRepetition maxMult idiom, O(n log n)) — the previous
    // transform-of-filter form rescanned the token array per token
    // (O(n²) interpreted comparisons per document on the hot path)
    val top = aggregate(
      array_sort(ws),
      struct(lit("\u0000").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + lit(1L))
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    docs
      .withColumn("n_tokens", size(ws).cast("long"))
      .filter(col("n_tokens") >= minTokens &&
        top.cast("double") / col("n_tokens") <= maxTopFrac)
  }

  /** Watermarked exact content dedup: first occurrence of a fingerprint
    * wins; state is GC'd past the watermark horizon (bounded, like
    * EventStreams.dedupStream but keyed on CONTENT, not id — re-crawled
    * pages dedup even under new ids).
    */
  def contentDedup(docs: DataFrame, watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("fp", md5Fingerprint(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** Per-source token-budget admission: keyed running state holds the
    * tokens consumed per source; a doc is admitted while the budget has
    * room (the "stop ingesting this source" back-pressure of a
    * continuous pipeline). Batch arrivals are folded in doc_id order so
    * admission is deterministic regardless of partition arrival order.
    * State is one long per source — bounded by |sources|.
    *
    * Docs are projected to (doc_id, tokens) BEFORE grouping, so the
    * per-(source, micro-batch) sort materializes 16-byte tuples, never
    * document text. A hot source in a huge micro-batch still buffers its
    * batch's metadata on one executor — `budgetAdmissionOrdered` is the
    * state-store-backed form that bounds that too.
    */
  def budgetAdmission(docs: Dataset[StreamDoc], budget: Long): Dataset[Admitted] = {
    import docs.sparkSession.implicits._
    docs
      .map(d0 => (d0.doc_id, d0.source,
        // limit -1: the exact JVM mirror of batch size(tokens(text)) —
        // Spark's split keeps trailing empty tokens, default JVM split
        // drops them, and the ledger must charge the batch count
        d0.text.toLowerCase.split("\\s+", -1).length.toLong))
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (source: String, batch: Iterator[(Long, String, Long)],
         state: GroupState[Long]) =>
          var used = state.getOption.getOrElse(0L)
          val out = batch.toSeq.sortBy(_._1).flatMap { case (id, _, n) =>
            if (used < budget) {
              used += n
              Some(Admitted(id, source, n, used))
            } else None
          }
          state.update(used)
          out.iterator
      }
  }

  /** A pack assignment emitted by `packStream` — q57's row contract. */
  case class PackAssign(doc_id: Long, source: String, n_toks: Long,
    pack_id: Long, pack_offset: Long)

  /** `packStream`'s processor: one cumulative-token long per source in
    * a named ValueState, folded over each batch in doc_id order.
    */
  class PackProcessor(budget: Long) extends
      org.apache.spark.sql.streaming.StatefulProcessor[
        String, (Long, String, Long), PackAssign] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var cum: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cum = getHandle.getValueState[Long](
        "packCum", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: String,
        rows: Iterator[(Long, String, Long)],
        timerValues: TimerValues): Iterator[PackAssign] = {
      var c = if (cum.exists()) cum.get() else 0L
      val out = rows.toSeq.sortBy(_._1).map { case (id, _, n) =>
        val start = c
        c += n
        PackAssign(id, key, n, start / budget, start % budget)
      }
      cum.update(c)
      out.iterator
    }
  }

  /** q57's STREAMING twin: contiguous sequence packing as the corpus
    * streams in — the per-source cumulative token count lives in keyed
    * state (one long per source, `PackProcessor`), and each arriving
    * doc's (pack_id, pack_offset) is the batch layout's pure function of
    * the prefix sum before it: pack = start div budget, offset = start
    * mod budget. Micro-batches sort per source by doc_id (the
    * budgetAdmission discipline), so under per-source monotone arrival
    * — the ingest contract the batch layout's doc_id order encodes —
    * the output is ROW-IDENTICAL to batch `Sampling.packSequences` at
    * ANY micro-batch boundary placement (CurationStreamSpec asserts the
    * state≡batch law on the real corpus). The token count is the exact
    * Scala mirror of the batch `tokenSum(tokens(text), bpePieces)`
    * column: Σ ⌊(len+3)/4⌋ over whitespace-split lowercase tokens.
    *
    * Docs are projected to (doc_id, token count) BEFORE grouping —
    * 24-byte tuples, never text, buffer through the per-batch sort.
    */
  def packStream(docs: Dataset[StreamDoc], budget: Long = 2048L): Dataset[PackAssign] = {
    import docs.sparkSession.implicits._
    docs
      .map(d0 => (d0.doc_id, d0.source,
        d0.text.toLowerCase.split("\\s+")
          .map(w => ((w.length + 3) / 4).toLong).sum))
      .groupByKey(_._2)
      .transformWithState(new PackProcessor(budget),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /** An arriving media asset's metadata — the aspect-batching stream's
    * input contract (a media ingest ships decode metadata, never
    * payload, through the batching planner).
    */
  case class AssetIn(doc_id: Long, n_chars: Long, n_bytes: Long)

  /** A batch-slot assignment emitted by `aspectBatchStream` — q207's
    * per-asset row (the per-bucket pad stats are a downstream aggregate
    * of these).
    */
  case class AspectAssign(doc_id: Long, bucket: Long, batch_id: Long,
    slot: Long, w: Long, h: Long)

  /** `aspectBatchStream`'s processor: one asset-count long per aspect
    * bucket in a named ValueState, folded over each batch in doc_id
    * order.
    */
  class AspectProcessor(batch: Int) extends
      org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long, Long), AspectAssign] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var cnt: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cnt = getHandle.getValueState[Long](
        "aspectCnt", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Long, Long)],
        timerValues: TimerValues): Iterator[AspectAssign] = {
      var c = if (cnt.exists()) cnt.get() else 0L
      val out = rows.toSeq.sortBy(_._1).map { case (id, _, w, h) =>
        val asg = AspectAssign(id, key, c / batch, c % batch, w, h)
        c += 1
        asg
      }
      cnt.update(c)
      out.iterator
    }
  }

  /** q207's STREAMING twin: aspect-bucketed batch assignment as assets
    * stream in. The batch layout's within-bucket row_number is a pure
    * function of the count of assets before it, so state is ONE LONG
    * per aspect bucket (`AspectProcessor`; ≤ ~11 buckets — the smallest
    * state in the file); batch_id = cnt div B, slot = cnt mod B.
    * Micro-batches sort per bucket by doc_id (the packStream
    * discipline), so under per-bucket monotone arrival the assignments
    * are ROW-IDENTICAL to the batch `Multimodal.aspectBatching` layout
    * at any micro-batch boundary placement (CurationStreamSpec asserts
    * the aggregated state≡batch law). Geometry is the shared q170
    * metadata derivation (w = n_chars%64+1, h = ⌈bytes/w⌉ clamped ≥ 1,
    * bucket = ⌊log₂(16w/h)⌋).
    */
  def aspectBatchStream(assets: Dataset[AssetIn], batch: Int = 32): Dataset[AspectAssign] = {
    import assets.sparkSession.implicits._
    assets
      .map { a =>
        val w = a.n_chars % 64 + 1
        val h = math.max((a.n_bytes + w - 1) / w, 1L)
        val b = (63 - java.lang.Long.numberOfLeadingZeros(
          math.max(w * 16 / h, 1L))).toLong
        (a.doc_id, b, w, h)
      }
      .groupByKey(_._2)
      .transformWithState(new AspectProcessor(batch),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /** One shard's per-source counts (parallel arrays) — bounded by
    * |sources|, the aspect/pack state discipline.
    */
  case class ShardMix(sources: Array[String], cnts: Array[Long], n: Long)

  /** A shard-diversity emission: the q213 row plus the fold stamp. */
  case class ShardDivRow(shard: Long, n_docs: Long, n_sources: Long,
    entropy_q12: Long, state_n: Long)

  /** q213's STREAMING twin: the shard source-mix entropy monitored
    * LIVE as docs are routed — the "is my ingest keeping shards mixed"
    * gauge. State per shard is the (source → count) table
    * (|sources|-bounded); each batch re-emits the shard's current
    * (n_docs, n_sources, entropy) with the exact same per-cell
    * quantized −p·log₂p terms as the batch query (JVM math.log ratio +
    * HALF_UP ≡ Spark's `round(log2(...))` — the q213 spec's proven
    * identity), so the final emission per shard IS the batch row.
    */
  class ShardDivProcessor extends
      org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String), ShardDivRow] {
    import org.apache.spark.sql.{Encoders => Encs}
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var st: ValueState[ShardMix] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[ShardMix](
        "shardMix", Encs.product[ShardMix], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
        timerValues: TimerValues): Iterator[ShardDivRow] = {
      val prior = if (st.exists()) st.get() else ShardMix(Array.empty, Array.empty, 0L)
      var m = prior.sources.zip(prior.cnts).toMap
      var n = prior.n
      rows.foreach { case (_, src) => m += (src -> (m.getOrElse(src, 0L) + 1L)); n += 1 }
      val srcs = m.keys.toArray.sorted
      st.update(ShardMix(srcs, srcs.map(m), n))
      val nDocs = m.values.sum
      val entropy = m.values.map { c =>
        val p = c.toDouble / nDocs.toDouble
        BigDecimal(-(p * (math.log(p) / math.log(2.0))) * 1e12)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }.sum
      Iterator.single(ShardDivRow(key, nDocs, m.size.toLong, entropy, n))
    }
  }

  /** Streaming q213 entry point: docs route to their md5 shard and the
    * per-shard mix folds in keyed state.
    */
  def shardDiversityStream(docs: Dataset[StreamDoc],
      nShards: Int = 8): Dataset[ShardDivRow] = {
    import docs.sparkSession.implicits._
    docs
      .map(d0 => (graft.functions.Hashing.md5BucketJvm(
        s"shard:${d0.doc_id}", 1L << 32) % nShards, d0.source))
      .groupByKey(_._1)
      .transformWithState(new ShardDivProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  case class RuleCounts(n: Long, fw: Long, fm: Long, fa: Long, fs: Long,
    fr: Long, np: Long)

  case class RuleMatrixRow(source: String, n_docs: Long, fail_words: Long,
    fail_mean: Long, fail_alpha: Long, fail_sym: Long, fail_req: Long,
    n_pass: Long, pass_rate_q6: Long)

  /** q222's STREAMING twin: the per-source Gopher rule-failure matrix
    * monitored LIVE as the crawl feed arrives — "which rule is killing
    * which source's docs RIGHT NOW" (an upstream markup-stripping
    * regression shows up as one source's symbol-rule failures spiking
    * mid-ingest, long before the batch audit would run). State per
    * source is seven longs; each batch folds its arrivals' verdicts in
    * and re-emits the source's running matrix row, so the final
    * emission per source IS the q222 batch row (the state≡batch law
    * CurationStreamSpec pins). Verdicts replicate the batch
    * `gopherFlags` column math exactly: same tokenizer split, same
    * exact-integer cross-product thresholds, same distinct-required
    * intersection.
    */
  class RuleMatrixProcessor(required: Set[String]) extends
      org.apache.spark.sql.streaming.StatefulProcessor[
        String, StreamDoc, RuleMatrixRow] {
    import org.apache.spark.sql.{Encoders => Encs}
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var st: ValueState[RuleCounts] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[RuleCounts](
        "ruleCounts", Encs.product[RuleCounts], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[StreamDoc],
        timerValues: TimerValues): Iterator[RuleMatrixRow] = {
      var c = if (st.exists()) st.get() else RuleCounts(0, 0, 0, 0, 0, 0, 0)
      rows.foreach { d0 =>
        val w = d0.text.toLowerCase.split("\\s+").filter(_.nonEmpty)
        val nw = w.length.toLong
        val nc = w.map(_.length.toLong).sum
        val na = w.count(_.exists(ch => ch >= 'a' && ch <= 'z')).toLong
        val ns = w.count(x => x.contains("#") || x.contains("...")).toLong
        val nr = w.distinct.count(required).toLong
        val pw = nw >= 50 && nw <= 100000
        val pm = nc >= nw * 3 && nc <= nw * 10
        val pa = na * 10 >= nw * 8
        val ps = ns * 10 < nw
        val pr = nr >= 2
        c = RuleCounts(c.n + 1,
          c.fw + (if (pw) 0 else 1), c.fm + (if (pm) 0 else 1),
          c.fa + (if (pa) 0 else 1), c.fs + (if (ps) 0 else 1),
          c.fr + (if (pr) 0 else 1),
          c.np + (if (pw && pm && pa && ps && pr) 1 else 0))
      }
      st.update(c)
      val rate = BigDecimal(c.np.toDouble / c.n.toDouble * 1000000.0)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      Iterator.single(RuleMatrixRow(key, c.n, c.fw, c.fm, c.fa, c.fs,
        c.fr, c.np, rate))
    }
  }

  /** Streaming q222 entry point: docs key by source, the seven-counter
    * matrix row folds in keyed state.
    */
  def ruleMatrixStream(docs: Dataset[StreamDoc],
      required: Seq[String] = graft.functions.TextFunctions.StopWords)
      : Dataset[RuleMatrixRow] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_.source)
      .transformWithState(new RuleMatrixProcessor(required.toSet),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  case class AblationCounts(n: Long, np: Long,
    fw: Long, uw: Long, fm: Long, um: Long, fa: Long, ua: Long,
    fs: Long, us: Long, fr: Long, ur: Long)

  case class AblationRow(source: String, n_docs: Long, n_pass: Long,
    fail_words: Long, uniq_words: Long, fail_mean: Long, uniq_mean: Long,
    fail_alpha: Long, uniq_alpha: Long, fail_sym: Long, uniq_sym: Long,
    fail_req: Long, uniq_req: Long)

  /** q228's STREAMING twin: the rule-ablation counters monitored live.
    * Both halves of the ablation — a rule's total kills AND its unique
    * kills (fails it, passes the other four) — are per-doc predicates,
    * so they fold ADDITIVELY in per-source keyed state (12 longs each;
    * the stream stays partition-parallel, no global key funnel), and
    * the corpus-level q228 table is a 5-row sum over the final
    * per-source emissions — CurationStreamSpec pins that assembly
    * against the batch `Text.ruleAblation` exactly. The live read: a
    * rule whose unique-kill share starts climbing mid-ingest is
    * becoming load-bearing for whatever source is currently arriving —
    * the batch audit only sees the blended endpoint.
    */
  class RuleAblationProcessor(required: Set[String]) extends
      org.apache.spark.sql.streaming.StatefulProcessor[
        String, StreamDoc, AblationRow] {
    import org.apache.spark.sql.{Encoders => Encs}
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var st: ValueState[AblationCounts] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[AblationCounts](
        "ablationCounts", Encs.product[AblationCounts], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[StreamDoc],
        timerValues: TimerValues): Iterator[AblationRow] = {
      var c = if (st.exists()) st.get()
        else AblationCounts(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
      rows.foreach { d0 =>
        // identical verdict math to batch gopherFlags / RuleMatrixProcessor
        val w = d0.text.toLowerCase.split("\\s+").filter(_.nonEmpty)
        val nw = w.length.toLong
        val nc = w.map(_.length.toLong).sum
        val na = w.count(_.exists(ch => ch >= 'a' && ch <= 'z')).toLong
        val ns = w.count(x => x.contains("#") || x.contains("...")).toLong
        val nr = w.distinct.count(required).toLong
        val p = Array(nw >= 50 && nw <= 100000,
          nc >= nw * 3 && nc <= nw * 10,
          na * 10 >= nw * 8, ns * 10 < nw, nr >= 2)
        def uniq(i: Int): Long =
          if (!p(i) && p.indices.forall(j => j == i || p(j))) 1L else 0L
        def fail(i: Int): Long = if (p(i)) 0L else 1L
        c = AblationCounts(c.n + 1,
          c.np + (if (p.forall(identity)) 1L else 0L),
          c.fw + fail(0), c.uw + uniq(0), c.fm + fail(1), c.um + uniq(1),
          c.fa + fail(2), c.ua + uniq(2), c.fs + fail(3), c.us + uniq(3),
          c.fr + fail(4), c.ur + uniq(4))
      }
      st.update(c)
      Iterator.single(AblationRow(key, c.n, c.np, c.fw, c.uw, c.fm, c.um,
        c.fa, c.ua, c.fs, c.us, c.fr, c.ur))
    }
  }

  /** Streaming q228 entry point: per-source additive ablation counters;
    * the global 5-row table is a sum over the sources' final rows.
    */
  def ruleAblationStream(docs: Dataset[StreamDoc],
      required: Seq[String] = graft.functions.TextFunctions.StopWords)
      : Dataset[AblationRow] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_.source)
      .transformWithState(new RuleAblationProcessor(required.toSet),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  case class PosEntropyRow(pos: Long, n_docs: Long, n_types: Long,
    entropy_q6: Long, top_token: String, top_count: Long, top_frac_q6: Long)

  /** q233's STREAMING twin: positional token entropy monitored live on
    * the Spark 4 `MapState` surface — per position key (1..maxPos), the
    * token→count histogram lives in a state-store-backed map (RocksDB
    * at scale: vocabulary-bounded state PER POSITION, never a heap
    * materialization), each arrival bumps `maxPos` map cells, and every
    * batch re-emits the position's full entropy row from state. The
    * live read: a template suddenly dominating a source's openings
    * shows as pos-1 entropy collapsing mid-ingest. Emission math
    * replays the batch contract exactly (per-token quantized HALF_UP
    * terms, struct-max tie order), so the final emission per position
    * IS the q233 batch row — CurationStreamSpec pins the law.
    */
  class PosEntropyProcessor extends
      org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String), PosEntropyRow] {
    import org.apache.spark.sql.{Encoders => Encs}
    import org.apache.spark.sql.streaming.{MapState, TTLConfig, TimeMode, TimerValues}

    @transient private var counts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long](
        "posTokenCounts", Encs.STRING, Encs.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
        timerValues: TimerValues): Iterator[PosEntropyRow] = {
      rows.foreach { case (_, w) =>
        val prev = if (counts.containsKey(w)) counts.getValue(w) else 0L
        counts.updateValue(w, prev + 1L)
      }
      val hist = counts.iterator().map { p => (p._1, p._2) }.toArray
      if (hist.isEmpty) Iterator.empty
      else {
        val n = hist.map(_._2).sum
        val h = hist.map { case (_, c) =>
          val term = c.toDouble / n *
            (math.log(n.toDouble / c) / math.log(2.0)) * 1000000.0
          BigDecimal(term).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        }.sum
        val (topC, topW) = hist.map { case (w, c) => (c, w) }.max
        val frac = BigDecimal(topC.toDouble / n * 1000000.0)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        Iterator.single(PosEntropyRow(key, n, hist.length.toLong, h,
          topW, topC, frac))
      }
    }
  }

  /** Streaming q233 entry point: docs explode to their first `maxPos`
    * (position, token) pairs, keyed by position; each position's
    * histogram folds in MapState.
    */
  def posEntropyStream(docs: Dataset[StreamDoc], maxPos: Int = 16)
      : Dataset[PosEntropyRow] = {
    import docs.sparkSession.implicits._
    docs
      .flatMap { d0 =>
        d0.text.toLowerCase.split("\\s+", -1).take(maxPos).zipWithIndex
          .map { case (w, i) => ((i + 1).toLong, w) }
      }
      .groupByKey(_._1)
      .transformWithState(new PosEntropyProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** A buffered admission candidate: doc metadata only, never text. */
  case class PendingDoc(doc_id: Long, n_tokens: Long, ts_ms: Long)

  /** Event-time-ordered budget admission on the Spark 4
    * `transformWithState` surface — the bounded-memory form of
    * `budgetAdmission`: arrivals are appended ONE ROW AT A TIME into a
    * state-store-backed ListState (RocksDB at scale — never a heap
    * materialization of the micro-batch), and an event-time timer flushes
    * matured rows (ts ≤ watermark) in (ts, doc_id) order against the
    * budget. Admission therefore folds in GLOBAL event-time order, not
    * per-micro-batch arrival order: the admitted set depends only on the
    * data, not on how arrivals happened to batch — the stronger
    * determinism contract (the trade: output waits for the watermark,
    * like every event-time-ordered operator).
    *
    * The flush sorts only rows matured since the previous flush —
    * bounded by source rate × watermark horizon, the same state bound
    * the watermark already imposes; unflushed rows stay in the store.
    */
  class BudgetProcessor(budget: Long) extends
      org.apache.spark.sql.streaming.StatefulProcessor[String, StreamDoc, Admitted] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState,
      TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var used: ValueState[Long] = _
    @transient private var pending: ListState[PendingDoc] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      used = getHandle.getValueState[Long](
        "budgetUsed", Encoders.scalaLong, TTLConfig.NONE)
      pending = getHandle.getListState[PendingDoc](
        "pending", Encoders.product[PendingDoc], TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[StreamDoc],
        timerValues: TimerValues): Iterator[Admitted] = {
      rows.foreach { d0 =>
        pending.appendValue(PendingDoc(d0.doc_id,
          // limit -1: mirror batch size(tokens(text)) — see budgetAdmission
          d0.text.toLowerCase.split("\\s+", -1).length.toLong, d0.ts.getTime))
      }
      // fire as soon as the watermark next advances; matured rows flush then
      getHandle.registerTimer(timerValues.getCurrentWatermarkInMs() + 1)
      Iterator.empty
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Admitted] = {
      val wm = timerValues.getCurrentWatermarkInMs()
      val (ready, still) = pending.get().toArray.partition(_.ts_ms <= wm)
      if (still.nonEmpty) { pending.clear(); pending.put(still) }
      else pending.clear()
      if (still.nonEmpty)
        getHandle.registerTimer(still.map(_.ts_ms).min)
      var u = if (used.exists()) used.get() else 0L
      val out = ready.sortBy(p => (p.ts_ms, p.doc_id)).flatMap { p =>
        if (u < budget) {
          u += p.n_tokens
          Some(Admitted(p.doc_id, key, p.n_tokens, u))
        } else None
      }
      used.update(u)
      out.iterator
    }
  }

  /** `budgetAdmission` on the transformWithState runtime (see
    * BudgetProcessor). Input must carry an event-time watermark; one is
    * applied here for standalone use (idempotent under curate's own).
    * Needs the RocksDB state store provider (value + list state + timers
    * = multiple column families) — the production transformWithState
    * configuration; HDFS-backed state raises UNSUPPORTED_FEATURE.
    */
  def budgetAdmissionOrdered(docs: Dataset[StreamDoc], budget: Long,
      watermark: String = "10 minutes"): Dataset[Admitted] = {
    import docs.sparkSession.implicits._
    docs
      .withWatermark("ts", watermark)
      .groupByKey(_.source)
      .transformWithState(new BudgetProcessor(budget),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** The composed continuous pipeline: gate → content-dedup → budget. */
  def curate(docs: DataFrame, budget: Long = 1000L,
      watermark: String = "10 minutes"): Dataset[Admitted] = {
    import docs.sparkSession.implicits._
    val deduped = contentDedup(qualityGate(docs), watermark)
      .select(col("doc_id"), col("ts"), col("text"), col("source"))
      .as[StreamDoc]
    budgetAdmission(deduped, budget)
  }

  /** A document arrival for the incremental manifest (metadata only —
    * the manifest never needs text).
    */
  case class DocArrival(doc_id: Long, ts: Timestamp, lang: String,
      source: String, n_chars: Long)

  /** The per-doc manifest state the last batch build materialized
    * (operators.Pipeline.trainingManifest's derived columns).
    */
  case class ManifestSnap(split: String, decile: Long, cluster_id: Long,
      emb_label: Option[Int])

  /** One denormalized manifest record, emitted at arrival time. */
  case class ManifestRow(doc_id: Long, lang: String, source: String,
      n_chars: Long, split: String, decile: Option[Long], cluster_id: Long,
      emb_label: Option[Int], is_new: Boolean)

  /** The INCREMENTAL training manifest — closes the loop the curation
    * stream starts (round-9 verdict #4): q146's denormalized record,
    * produced AT ARRIVAL TIME by joining each incoming document against
    * the doc_id-keyed manifest state of the last batch build, loaded as
    * transformWithState INITIAL STATE (the Spark 4 bulk state-seeding
    * surface — at scale the snapshot lives in the state store, not a
    * broadcast). A doc the state does not cover takes the arrival-time
    * fallbacks (hash split from its own id — stateless, so it agrees
    * with the next build; NULL decile/emb_label; singleton cluster) and
    * is flagged is_new.
    *
    * operators.Pipeline.incrementalManifestBatch is the relational
    * projection of this exact contract (q149, oracle-checked);
    * CurationStreamSpec asserts the state≡batch law: streamed arrivals
    * reproduce the batch rows regardless of micro-batching.
    */
  class ManifestProcessor extends
      org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, DocArrival, ManifestRow, ManifestSnap] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var st: ValueState[ManifestSnap] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[ManifestSnap](
        "manifestSnap", Encoders.product[ManifestSnap], TTLConfig.NONE)

    override def handleInitialState(key: Long, snap: ManifestSnap,
        timerValues: TimerValues): Unit = st.update(snap)

    override def handleInputRows(key: Long, rows: Iterator[DocArrival],
        timerValues: TimerValues): Iterator[ManifestRow] = {
      val snap = if (st.exists()) Some(st.get()) else None
      rows.map { a =>
        snap match {
          case Some(s) => ManifestRow(a.doc_id, a.lang, a.source, a.n_chars,
            s.split, Some(s.decile), s.cluster_id, s.emb_label, is_new = false)
          case None =>
            val sbk = graft.functions.Hashing.md5BucketJvm(s"split:${a.doc_id}", 100L)
            val split = if (sbk < 80) "train"
              else if (sbk < 90) "validation" else "test"
            ManifestRow(a.doc_id, a.lang, a.source, a.n_chars,
              split, None, a.doc_id, None, is_new = true)
        }
      }
    }
  }

  /** `ManifestProcessor` wired to a snapshot: arrivals keyed by doc_id,
    * the last build's manifest as initial state. Needs the RocksDB
    * provider (multi-column-family state), like every transformWithState
    * operator here.
    */
  def incrementalManifest(arrivals: Dataset[DocArrival],
      snapshot: Dataset[(Long, ManifestSnap)]): Dataset[ManifestRow] = {
    import arrivals.sparkSession.implicits._
    arrivals
      .groupByKey(_.doc_id)
      .transformWithState(new ManifestProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append(),
        snapshot.groupByKey(_._1).mapValues(_._2))
  }

  /** Stage-1 row of streaming q249: one calibration-relevant projection
    * per document — the SAME stop_ratio expression chain as the batch
    * `Text.qualityScore` (size/filter over the shared tokenizer, one
    * long->double division), so class keys are bit-identical.
    */
  case class QualityDocIn(doc_id: Long, lang: String, source: String,
    stop_ratio: Double)

  /** Stage 1 of streaming q249: project (doc_id, lang, source,
    * stop_ratio) off a raw document feed — pure scan-stage expressions,
    * safe on a streaming DataFrame.
    */
  def qualityDocRows(docs: DataFrame): Dataset[QualityDocIn] = {
    import docs.sparkSession.implicits._
    val stop = typedLit(StopWords)
    docs.select($"doc_id", $"lang", $"source", tokens($"text").as("ws"))
      .select($"doc_id", $"lang", $"source",
        (size(filter($"ws", t => array_contains(stop, t))).cast("long")
          .cast("double") / size($"ws").cast("long")).as("stop_ratio"))
      .as[QualityDocIn]
  }

  case class QualityPanelRow(lang: String, source: String, n_docs: Long,
    sum_prq: Long, n_top_decile: Long, state_n: Long)

  /** q249's STREAMING twin: the per-source quality panel live. State is
    * per LANGUAGE (the calibration boundary — q136's percentile ranks
    * never cross a language) a MapState (stop_ratio, source) -> count:
    * the exact class histogram `Ranks.groupRank` builds distributed,
    * value-domain-bounded (ratios of small integers), RocksDB-backed at
    * scale. Every batch replays the batch contract from state — class
    * ranks by exclusive prefix over the ratio-ascending classes
    * (rank() ties share), pr = (rnk-1)/(n-1), prq HALF_UP-quantized,
    * decile = min(floor(10pr), 9) — and emits per (lang, source)
    * ADDITIVE partials (n_docs, sum_prq, n_top_decile): the cross-lang
    * assembly is the stateless two-division step the batch panel ends
    * with (CurationStreamSpec's law performs it and pins equality with
    * q249). The live read a batch scan can't give: a source's
    * mean-quality percentile DROPS the moment a better source starts
    * shipping into the same language — ranks are relative, and the
    * stream re-calibrates every batch.
    */
  class SourceQualityProcessor extends
      org.apache.spark.sql.streaming.StatefulProcessor[
        String, QualityDocIn, QualityPanelRow] {
    import org.apache.spark.sql.{Encoders => Encs}
    import org.apache.spark.sql.streaming.{MapState, TTLConfig, TimeMode, TimerValues}

    @transient private var cells: MapState[(Double, String), Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cells = getHandle.getMapState[(Double, String), Long](
        "qualityCells", Encs.product[(Double, String)], Encs.scalaLong,
        TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[QualityDocIn],
        timerValues: TimerValues): Iterator[QualityPanelRow] = {
      rows.foreach { d =>
        val k = (d.stop_ratio, d.source)
        val prev = if (cells.containsKey(k)) cells.getValue(k) else 0L
        cells.updateValue(k, prev + 1L)
      }
      val cs = cells.iterator().map { p => (p._1._1, p._1._2, p._2) }.toArray
      if (cs.isEmpty) Iterator.empty
      else {
        val n = cs.map(_._3).sum
        // class ranks: exclusive prefix over ratio-ascending classes + 1
        var pre = 0L
        val classInfo = cs.groupBy(_._1).toSeq
          .map { case (r, a) => (r, a.map(_._3).sum) }.sortBy(_._1)
          .map { case (r, c) =>
            val rnk = pre + 1L
            pre += c
            val pr = if (n == 1L) 0.0
              else (rnk - 1L).toDouble / (n - 1L).toDouble
            val prq = BigDecimal(pr * 1000000.0)
              .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
            val dec = math.min(math.floor(pr * 10.0), 9.0).toLong
            r -> ((prq, dec))
          }.toMap
        cs.groupBy(_._2).toSeq.sortBy(_._1).iterator.map { case (src, a) =>
          val nd = a.map(_._3).sum
          val sp = a.map { case (r, _, c) => c * classInfo(r)._1 }.sum
          val nt = a.collect { case (r, _, c) if classInfo(r)._2 == 9L => c }.sum
          QualityPanelRow(key, src, nd, sp, nt, n)
        }
      }
    }
  }

  /** Streaming q249 entry point: quality rows key by language; each
    * language's class histogram folds in MapState and re-emits its
    * per-source partials.
    */
  def sourceQualityStream(rows: Dataset[QualityDocIn])
      : Dataset[QualityPanelRow] = {
    import rows.sparkSession.implicits._
    rows
      .groupByKey(_.lang)
      .transformWithState(new SourceQualityProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** A per-document PII scan row for the q244 streaming twin — the same
    * four `regexp_count` columns the batch panel projects (stage 1,
    * stateless scan math).
    */
  case class PiiDocIn(doc_id: Long, source: String, n_email: Long,
    n_phone: Long, n_ssn: Long, n_ip: Long)

  /** Stage 1 of streaming q244: per-doc PII match counts off a raw
    * document feed — the exact `TextFunctions.PiiPatterns` scan the
    * batch panel starts from; safe on a streaming DataFrame.
    */
  def piiDocRows(docs: DataFrame): Dataset[PiiDocIn] = {
    import docs.sparkSession.implicits._
    val counts = PiiPatterns.map { case (kind, pat) =>
      regexp_count(col("text"), lit(pat)).cast("long").as(s"n_$kind")
    }
    docs.select(col("doc_id") +: col("source") +: counts: _*).as[PiiDocIn]
  }

  case class PiiState(n_docs: Long, n_flagged: Long, s_email: Long,
    s_phone: Long, s_ssn: Long, s_ip: Long)

  case class PiiPanelRow(source: String, n_docs: Long, n_flagged: Long,
    sum_email: Long, sum_phone: Long, sum_ssn: Long, sum_ip: Long,
    exposure_q6: Long)

  /** q244's STREAMING twin: the per-source PII exposure panel live — the
    * compliance readout a data-protection review watches per ingest
    * batch instead of per scan. State per source is six additive longs
    * (docs, flagged docs, per-kind match totals); every batch re-emits
    * the source's full panel row with the batch contract's exposure
    * rate (HALF_UP 1e6 quantization of flagged/docs — the identical
    * division `piiBySource` ends with), so the FINAL emission per
    * source is the q244 batch row (CurationStreamSpec's law). The live
    * read the batch scan can't give: one feed shipping unredacted logs
    * shows as a per-kind spike the moment the batch lands, not at the
    * next full-corpus scan.
    */
  class PiiPanelProcessor extends
      org.apache.spark.sql.streaming.StatefulProcessor[
        String, PiiDocIn, PiiPanelRow] {
    import org.apache.spark.sql.{Encoders => Encs}
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var st: ValueState[PiiState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[PiiState](
        "piiPanel", Encs.product[PiiState], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[PiiDocIn],
        timerValues: TimerValues): Iterator[PiiPanelRow] = {
      var s = if (st.exists()) st.get() else PiiState(0L, 0L, 0L, 0L, 0L, 0L)
      rows.foreach { d =>
        val flagged = d.n_email > 0L || d.n_phone > 0L || d.n_ssn > 0L ||
          d.n_ip > 0L
        s = PiiState(s.n_docs + 1L,
          s.n_flagged + (if (flagged) 1L else 0L),
          s.s_email + d.n_email, s.s_phone + d.n_phone,
          s.s_ssn + d.n_ssn, s.s_ip + d.n_ip)
      }
      st.update(s)
      // n_docs = 0 can only happen on an empty rows iterator for a fresh
      // key (timer/initial-state invocations) — guard the division so it
      // emits 0 instead of BigDecimal(NaN) throwing
      val exposure = if (s.n_docs == 0L) 0L
        else BigDecimal(s.n_flagged.toDouble / s.n_docs.toDouble * 1000000.0)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      Iterator.single(PiiPanelRow(key, s.n_docs, s.n_flagged,
        s.s_email, s.s_phone, s.s_ssn, s.s_ip, exposure))
    }
  }

  /** Streaming q244 entry point: PII scan rows key by source; each
    * source's additive counters fold in ValueState and re-emit the
    * panel row.
    */
  def piiStream(rows: Dataset[PiiDocIn]): Dataset[PiiPanelRow] = {
    import rows.sparkSession.implicits._
    rows
      .groupByKey(_.source)
      .transformWithState(new PiiPanelProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** A per-document mass row for the q241 streaming twin (stage 1:
    * just (source, n_chars) off the feed).
    */
  case class MassIn(source: String, n_chars: Long)

  case class MassPartialRow(source: String, mass: Long, n_docs: Long)

  /** q241's STREAMING twin, the q249 partials convention: per-source
    * char-mass accumulates in keyed ValueState and every batch re-emits
    * the source's (mass, n_docs) partial; the cross-source
    * concentration panel (HHI, k50/k90 coverage ranks, top share) is
    * the stateless ≤|sources|-row assembly the batch query ends with —
    * CurationStreamSpec's law performs it over the final emissions and
    * pins equality with q241. Keying by SOURCE (not a global key) is
    * what scales: no single task ever folds the whole feed, and state
    * is two longs per source.
    */
  class SourceMassProcessor extends
      org.apache.spark.sql.streaming.StatefulProcessor[
        String, MassIn, MassPartialRow] {
    import org.apache.spark.sql.{Encoders => Encs}
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var st: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)](
        "sourceMass", Encs.product[(Long, Long)], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[MassIn],
        timerValues: TimerValues): Iterator[MassPartialRow] = {
      var (mass, n) = if (st.exists()) st.get() else (0L, 0L)
      rows.foreach { r => mass += r.n_chars; n += 1L }
      st.update((mass, n))
      Iterator.single(MassPartialRow(key, mass, n))
    }
  }

  /** Streaming q241 entry point. */
  def sourceMassStream(rows: Dataset[MassIn]): Dataset[MassPartialRow] = {
    import rows.sparkSession.implicits._
    rows
      .groupByKey(_.source)
      .transformWithState(new SourceMassProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }
}
