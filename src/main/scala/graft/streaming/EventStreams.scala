package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.StableNum._

/** The windowed/stateful operator family of the `events` table in
  * streaming form — the same expressions `graft.operators.Windowed` runs
  * in batch (SURVEY §7.2.2: identical window semantics, only the
  * source/watermark differ). Batch-mode results of these transforms are
  * what the driver's q10/q11 oracles check; the streaming tests assert
  * watermark-driven firing on the same logic.
  *
  * One runtime per keyed-state program: every stateful family in
  * `EventStreams`, `CurationStream` and `TaxiStreams` has exactly one
  * implementation. It runs on Spark 4's `transformWithState` (named,
  * typed state handles, TTL, timers; multi-column-family state, so the
  * RocksDB state store provider) — one keyed-state abstraction and one
  * snapshot layout for checkpoint recovery and a state-source reader.
  * The legacy `(flat)mapGroupsWithState` API remains in four
  * single-implementation folds: `TaxiStreams.travelTimePrediction` and
  * `StreamProjections.predictionSlopesBatch`, whose callers run them on
  * bounded Datasets (a bounded `transformWithState` fails with
  * CANNOT_LOAD_STATE_STORE until the session has touched
  * `spark.streams`), and `runningUserTotals` and
  * `CurationStream.budgetAdmission`.
  */
object EventStreams {

  /** Typed event row for MemoryStream-driven tests. */
  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** Sliding window count+sum per event type with watermark — q10's
    * aggregation under streaming (append mode fires when the watermark
    * passes a window end).
    */
  def slidingCounts(events: DataFrame, watermark: String = "10 minutes",
      size: String = "1 hour", slide: String = "15 minutes",
      threshold: Long = 1): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), size, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), stableSum(col("value")).as("sum_value"))
      .filter(col("cnt") >= threshold)
      .select(unix_timestamp(col("w.start")).as("w_start"),
        col("event_type"), col("cnt"), col("sum_value"))

  /** Session-window totals per user in STREAMING form — q41's session
    * semantics under watermarked merging state: `session_window` extends
    * or merges a user's open session as events arrive, and the session
    * emits once the watermark passes its end (gap after the last event).
    * State is one open session per active user — bounded by active users
    * × the watermark horizon, the scalable sessionization shape.
    */
  def sessionStream(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), stableSum(col("value")).as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("w_start"),
        unix_timestamp(col("w.end")).as("w_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Streaming exact dedup: first occurrence per event_id wins;
    * watermarked so the dedup state is garbage-collected once an id can
    * no longer arrive (the unbounded-state answer for 100 TB streams —
    * state size is bounded by ids per watermark horizon, not by history).
    */
  def dedupStream(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Full-resolution event-time micros. `Timestamp.getTime` is MILLIS
    * (already including the nanos' millisecond part), so the
    * sub-millisecond remainder is appended — exactly the batch engine's
    * `unix_micros`. Every processor that sorts or diffs event time MUST
    * use this (a millisecond-resolution sort silently diverges from the
    * batch (ts, event_id) order for same-millisecond events).
    */
  private[graft] def tsMicros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** Stream-stream attribution join (beyond the reference's surface —
    * SURVEY §2.6 notes it has none): each purchase joins the same user's
    * clicks from the preceding hour. Both sides are watermarked and the
    * join carries an event-time range predicate, so Spark bounds the
    * buffered state on each side — the scalable form of stream-stream
    * correlation (state ∝ watermark horizon, not history).
    */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
      watermark: String = "10 minutes"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("value").as("click_value"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"), col("value").as("purchase_value"))
    p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"))
      .select(col("p_user").as("user_id"), col("purchase_id"),
        col("p_ts"), col("c_ts"), col("click_value"), col("purchase_value"))
  }

  /** Per-user running totals — keyed mutable state in Update mode (the
    * W4 ValueState shape on the events stream): every batch emits the
    * updated (user, n, total) after folding that batch's events.
    */
  case class UserTotals(user_id: Long, n: Long, total: Double)

  case class HllRow(event_type: String, v_zero: Long, hll_raw: Long,
      hll_est: Long)

  /** One HLL event: MD5 the id, bucket on the low byte, register-max
    * the rank — the SINGLE definition of the sketch-defining constants
    * ("hll:" prefix, first-8-hex parse, 256 buckets, 25 − bitlength
    * rank). Every register-compatible fold (hllFold, the day-keyed
    * reach and sliding-actives processors) must go through here: the
    * state≡batch laws require the register layouts to stay
    * bit-identical across operators.
    */
  private[graft] def hllFoldOne(md: java.security.MessageDigest,
      regs: Array[Long], userId: Long): Unit = {
    val hex = md.digest(s"hll:$userId".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val h = java.lang.Long.parseLong(hex.substring(0, 8), 16)
    val b = (h & 255L).toInt
    val w = h >> 8
    val rank =
      if (w == 0L) 25L
      else 25L - (64 - java.lang.Long.numberOfLeadingZeros(w))
    if (rank > regs(b)) regs(b) = rank
  }

  /** Fold a batch of events into the 256-register HLL state — register
    * max IS the HLL merge.
    */
  private def hllFold(regs: Array[Long], evs: Iterator[Event]): Unit = {
    val md = java.security.MessageDigest.getInstance("MD5")
    evs.foreach(e => hllFoldOne(md, regs, e.user_id))
  }

  private def hllSummary(t: String, regs: Array[Long]): HllRow = {
    val vZero = regs.count(_ == 0L).toLong
    val s = vZero.toDouble +
      regs.filter(_ > 0L).map(m => math.pow(2.0, -m.toDouble)).sum
    val raw = math.floor(0.7213 / (1.0 + 1.079 / 256.0)
      * 65536.0 / s).toLong
    val est =
      if (vZero > 0L && raw <= 640L)
        graft.operators.Relational.HllLcTable(vZero.toInt)
      else raw
    HllRow(t, vZero, raw, est)
  }

  /** Register-vector state wrapper (product encoder for the state store). */
  case class HllRegs(regs: Array[Long])

  /** `hllSketchStream`'s processor: the register fold/merge held in a
    * named ValueState.
    */
  class HllProcessor extends
      org.apache.spark.sql.streaming.StatefulProcessor[String, Event, HllRow] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var st: ValueState[HllRegs] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[HllRegs](
        "hllRegisters", Encoders.product[HllRegs], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[HllRow] = {
      // clone on read: never mutate the state-store-returned instance
      val regs = if (st.exists()) st.get().regs.clone() else Array.fill(256)(0L)
      hllFold(regs, rows)
      st.update(HllRegs(regs))
      Iterator.single(hllSummary(key, regs))
    }
  }

  /** q127's HyperLogLog under streaming state: per event_type, the
    * 256-register vector lives in keyed ValueState (`HllProcessor`) and
    * each micro-batch folds its rows in by register max — which IS the
    * HLL merge operation, so the final state is bit-identical to the
    * batch sketch no matter how the stream is micro-batched
    * (EventStreamsSpec asserts exactly that against
    * `Relational.hllDistinct` across an arbitrary 3-batch split).
    * Update mode re-emits a group's summary whenever new rows arrive;
    * state is 256 longs per group, forever.
    *
    * The hash, rank rule, raw-estimate expression, and linear-counting
    * table are the SAME code paths/constants as the batch query
    * (md5 first-8-hex-chars; 25 − bitlength; the shared `HllLcTable`) —
    * one sketch definition, three runtimes (batch, DuckDB oracle,
    * streaming state).
    */
  def hllSketchStream(events: Dataset[Event]): Dataset[HllRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .transformWithState(new HllProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  case class HistRow(event_type: String, n: Long, filled_bins: Long,
      max_bin_cnt: Long)

  /** Bin-count addition IS the histogram merge. */
  private def histFold(bins: Array[Long], lo: Double, hi: Double,
      nBins: Int, evs: Iterator[Event]): Unit =
    evs.foreach { e =>
      val b = math.min(nBins - 1, math.max(0,
        math.floor((e.value - lo) / (hi - lo) * nBins).toInt))
      bins(b) += 1
    }

  /** Bin-vector state wrapper (product encoder for the state store). */
  case class HistBins(bins: Array[Long])

  /** `histogramStream`'s processor: the bin fold held in a named
    * ValueState.
    */
  class HistProcessor(lo: Double, hi: Double, nBins: Int) extends
      org.apache.spark.sql.streaming.StatefulProcessor[String, Event, HistRow] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var st: ValueState[HistBins] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[HistBins](
        "histBins", Encoders.product[HistBins], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[HistRow] = {
      // clone on read: never mutate the state-store-returned instance
      val bins = if (st.exists()) st.get().bins.clone() else Array.fill(nBins)(0L)
      histFold(bins, lo, hi, nBins, rows)
      st.update(HistBins(bins))
      Iterator.single(HistRow(key, bins.sum, bins.count(_ > 0L).toLong, bins.max))
    }
  }

  /** q129's histogram under streaming state: per event_type the 64 bin
    * counts accumulate in keyed ValueState (`HistProcessor`) — bin-count
    * ADDITION is the histogram merge, so state equals the batch bins
    * over the same rows regardless of micro-batching (EventStreamsSpec
    * asserts the bin-vector equality against a batch recompute, and a
    * killed-and-resumed query's final bins against the whole feed).
    * Range is fixed a priori (the streaming deployment of the q129
    * scaladoc: one pass, no min/max pre-scan) — bins outside clamp to
    * the edges. State is nBins longs per group, forever.
    */
  def histogramStream(events: Dataset[Event], lo: Double, hi: Double,
      nBins: Int = 64): Dataset[HistRow] = {
    // a degenerate range would make the bin expression NaN, which .toInt
    // silently maps to bin 0 — the batch q129 special-cases mx == mn;
    // here the range is caller-fixed, so reject it loudly
    require(hi > lo, s"histogramStream needs hi > lo (got lo=$lo, hi=$hi)")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .transformWithState(new HistProcessor(lo, hi, nBins),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  case class AnomalyRow(event_type: String, dy: Long, cnt: Long, n_prev: Long,
      mean_prev: Option[Double], z: Option[Double], is_anomaly: Boolean,
      state_n: Long)

  /** Day-count vector state (parallel arrays, product encoder). */
  case class DayCounts(days: Array[Long], counts: Array[Long])

  /** The q153 anomaly monitor's math on an in-memory day series — ONE
    * definition shared by the streaming state and the spec's law, with
    * the identical double chain the batch operator (and its DuckDB
    * oracle) uses: mean = Σ/n, z = (cnt − Σ/n) / √((n·Σx²−Σx²)/(n(n−1))).
    */
  private[streaming] def anomalySeries(t: String, dayCounts: Seq[(Long, Long)],
      lookback: Int, zThresh: Double): Seq[AnomalyRow] = {
    val sorted = dayCounts.sortBy(_._1)
    val stateN = sorted.map(_._2).sum
    sorted.indices.map { i =>
      val (dy, cnt) = sorted(i)
      val prev = sorted.slice(math.max(0, i - lookback), i).map(_._2)
      val n = prev.length.toLong
      val s1 = prev.sum
      val s2 = prev.map(c => c * c).sum
      val mean = if (n >= 1) Some(s1.toDouble / n.toDouble) else None
      val varNum = n * s2 - s1 * s1
      val z = if (n == lookback.toLong && varNum > 0)
        Some((cnt.toDouble - s1.toDouble / n.toDouble) /
          math.sqrt(varNum.toDouble / (n * (n - 1)).toDouble))
      else None
      AnomalyRow(t, dy, cnt, n, mean, z,
        z.exists(v => math.abs(v) >= zThresh), stateN)
    }
  }

  /** q153's daily-volume anomaly monitor in streaming form, on the
    * Spark 4 `transformWithState` surface (the one keyed-state runtime —
    * see the object doc): per event type the state
    * is the (day → count) vector, and each micro-batch folds its rows in
    * by count ADDITION — which IS the daily-histogram merge, so the
    * final state is independent of how the stream is micro-batched
    * (EventStreamsSpec asserts equality against `Windowed.dailyAnomaly`
    * over the same rows, arbitrary split). Every batch re-emits the
    * key's full z-scored series — late-arriving rows for an EARLIER day
    * legitimately revise a later day's trailing stats, and the
    * re-emission (Update mode) is what propagates that revision;
    * `state_n` (total rows folded) is the monotone version stamp that
    * identifies the final emission. Production GC: the day vector is
    * bounded by observed days; a TTLConfig on the state (or dropping
    * days older than the lookback horizon at fold time) caps it — the
    * fixture keeps TTL off so the law is exact.
    */
  class AnomalyProcessor(lookback: Int, zThresh: Double) extends
      org.apache.spark.sql.streaming.StatefulProcessor[String, Event, AnomalyRow] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var st: ValueState[DayCounts] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[DayCounts](
        "dayCounts", Encoders.product[DayCounts], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[AnomalyRow] = {
      val m = scala.collection.mutable.LongMap.empty[Long]
      if (st.exists()) {
        val dc = st.get()
        dc.days.zip(dc.counts).foreach { case (d, c) => m(d) = c }
      }
      rows.foreach { e =>
        val micros = tsMicros(e.ts)
        val dy = micros / 86400000000L
        m(dy) = m.getOrElse(dy, 0L) + 1L
      }
      val pairs = m.toSeq.sortBy(_._1)
      st.update(DayCounts(pairs.map(_._1).toArray, pairs.map(_._2).toArray))
      anomalySeries(key, pairs, lookback, zThresh).iterator
    }
  }

  def anomalyStream(events: Dataset[Event], lookback: Int = 7,
      zThresh: Double = 2.0): Dataset[AnomalyRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .transformWithState(new AnomalyProcessor(lookback, zThresh),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  case class CmsRow(event_type: String, n: Long, filled: Long,
      max_bucket: Long, f2_min: Long)

  /** Flattened d×w register vector (product encoder for the state store). */
  case class CmsRegs(regs: Array[Long])

  /** Count ADDITION is the CMS merge. The hash is the q162 md5
    * primitive ("cms:<row>:<user_id>", first 8 hex chars), so the
    * stream state is exactly the batch register table over the same
    * rows, independent of micro-batching. Returns the number of rows
    * folded.
    */
  private def cmsFold(regs: Array[Long], dRows: Int, w: Int,
      evs: Iterator[Event]): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var n = 0L
    evs.foreach { e =>
      var r = 0
      while (r < dRows) {
        val hex = md.digest(s"cms:$r:${e.user_id}".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        val h = java.lang.Long.parseLong(hex.substring(0, 8), 16)
        regs(r * w + (h % w).toInt) += 1L
        r += 1
      }
      n += 1L
    }
    n
  }

  private def cmsSummary(t: String, regs: Array[Long], dRows: Int,
      w: Int): CmsRow = {
    val f2 = (0 until dRows).map { r =>
      (0 until w).map(b => regs(r * w + b)).map(c => c * c).sum
    }.min
    CmsRow(t, regs.take(w).sum, regs.count(_ > 0L).toLong, regs.max, f2)
  }

  /** `cmsStream`'s processor: the register fold held in a named
    * ValueState.
    */
  class CmsProcessor(dRows: Int, w: Int) extends
      org.apache.spark.sql.streaming.StatefulProcessor[String, Event, CmsRow] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var st: ValueState[CmsRegs] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[CmsRegs](
        "cmsRegisters", Encoders.product[CmsRegs], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[CmsRow] = {
      // clone on read: never mutate the state-store-returned instance
      val regs = if (st.exists()) st.get().regs.clone() else Array.fill(dRows * w)(0L)
      cmsFold(regs, dRows, w, rows)
      st.update(CmsRegs(regs))
      Iterator.single(cmsSummary(key, regs, dRows, w))
    }
  }

  /** q162's Count–Min sketch under streaming state: per event_type the
    * flattened 4×256 register vector accumulates in keyed ValueState
    * (`CmsProcessor`) by count addition — the CMS merge — so the final
    * state equals a batch fold over the same rows no matter how the
    * stream is micro-batched (EventStreamsSpec asserts it, and that the
    * salted partials add-merge to these rows). State is d·w longs per
    * key, forever; the emitted summary carries the q163 F₂ fingerprint
    * (min over rows of Σ bucket²), which is collision-sensitive enough
    * to pin the whole register table.
    */
  def cmsStream(events: Dataset[Event], dRows: Int = 4,
      w: Int = 256): Dataset[CmsRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .transformWithState(new CmsProcessor(dRows, w),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  // ---- salted-partial sketch twins ----------------------------------
  // The unsalted sketch streams key by event_type alone, so a 5-type
  // feed folds on 5 tasks no matter how many cores the cluster has —
  // StreamBench measured the ceiling (hll 157k, cms 64k rows/s at 2M
  // events). The remedy is the same one the batch sketches use via
  // partial aggregation and q249 uses for source mass: key by
  // (event_type, salt) so the fold parallelism is types×salts, and
  // reassemble downstream with the sketch's own merge operation —
  // register MAX for HLL, count ADDITION for CMS — which is exactly
  // what makes these sketches mergeable in the first place. The merged
  // registers are bit-identical to the unsalted stream's (and the batch
  // query's) because the fold is a commutative monoid action and
  // salting only re-partitions the rows (EventStreamsSpec law).
  //
  // Since round 15 the salted partial form IS the family's deployment
  // default: the no-arg twins read the `spark.graft.sketch.salts` dial
  // (below) instead of hard-coding the single-key fold. The unsalted
  // streams above remain the equality reference (and the salts=1 plan).

  /** The sketch family's fold-parallelism dial — the rank machinery's
    * `spark.graft.rank.windowMaxRows` convention applied to streams:
    * ONE documented conf, `spark.graft.sketch.salts` (default 32,
    * floor 1), read by the no-arg partial twins. The salted plan is
    * the DEPLOYMENT DEFAULT because a sketch stream's key is the
    * sketch's GROUP (event_type here, ~5 values), not its population:
    * the unsalted fold serializes on |groups| tasks no matter the
    * cluster (StreamBench: HLL 174k→380k, CMS 62k→249k rows/s at 2M
    * events when salted). Set salts=1 to route onto a single fold per
    * group (same registers — the spec's salted≡unsalted≡batch law —
    * just no partial/merge stage); raise it toward the executor count
    * on wide clusters. Correctness never depends on the value: merge
    * is the sketch's own algebra (register MAX / count ADD), row
    * placement is irrelevant.
    */
  private[graft] def sketchSalts(spark: org.apache.spark.sql.SparkSession): Int =
    math.max(1, spark.conf.getOption("spark.graft.sketch.salts")
      .map(_.toInt).getOrElse(32))

  case class HllPartialRow(event_type: String, salt: Int, regs: Array[Long])

  /** Per-(type, salt) HLL registers on transformWithState. Registers
    * are cloned on state read and on emit (the WeekHistProcessor
    * aliasing convention): the state-store-returned array is never
    * mutated in place and no emitted row shares the stored instance.
    */
  class HllPartialProcessor extends
      org.apache.spark.sql.streaming.StatefulProcessor[(String, Int), Event, HllPartialRow] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var st: ValueState[HllRegs] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[HllRegs](
        "hllPartialRegisters", Encoders.product[HllRegs], TTLConfig.NONE)

    override def handleInputRows(key: (String, Int), rows: Iterator[Event],
        timerValues: TimerValues): Iterator[HllPartialRow] = {
      val regs = if (st.exists()) st.get().regs.clone() else Array.fill(256)(0L)
      hllFold(regs, rows)
      st.update(HllRegs(regs))
      Iterator.single(HllPartialRow(key._1, key._2, regs.clone()))
    }
  }

  /** q127's streaming twin, deployment default: types×salts fold
    * parallelism with `salts` from the `spark.graft.sketch.salts` dial.
    */
  def hllSketchStreamPartials(events: Dataset[Event]): Dataset[HllPartialRow] =
    hllSketchStreamPartials(events, sketchSalts(events.sparkSession))

  /** q127's HLL with types×`salts` fold parallelism. The salt is
    * `user_id % salts` for determinism, but ANY row partition is
    * correct — register max merges partials regardless of which rows
    * landed where.
    */
  def hllSketchStreamPartials(events: Dataset[Event],
      salts: Int): Dataset[HllPartialRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.event_type, (e.user_id % salts).toInt))
      .transformWithState(new HllPartialProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** Stateless downstream assembly: partial emissions → the unsalted
    * per-type summary. Accepts ALL update-mode emissions, not just each
    * partial's final row: a partial's registers are MONOTONE
    * nondecreasing across batches, so the element-wise max over every
    * emitted row per type equals the max over final rows — no
    * final-row selection needed for HLL.
    */
  def mergeHllPartials(partials: Dataset[HllPartialRow]): Dataset[HllRow] = {
    import partials.sparkSession.implicits._
    partials
      .groupByKey(_.event_type)
      .reduceGroups { (a, b) =>
        val m = a.regs.clone()
        var i = 0
        while (i < m.length) {
          if (b.regs(i) > m(i)) m(i) = b.regs(i); i += 1
        }
        HllPartialRow(a.event_type, -1, m)
      }
      .map { case (t, p) => hllSummary(t, p.regs) }
  }

  /** CMS partial: `n` counts rows folded so far — count addition is NOT
    * monotone-idempotent like register max, so the downstream merge
    * must take each partial's FINAL emission; n is the selector.
    */
  case class CmsPartialRow(event_type: String, salt: Int, n: Long,
      regs: Array[Long])

  /** (row count, registers) state — top-level so the product encoder
    * carries no outer reference into the state store.
    */
  case class CmsPartialState(n: Long, regs: Array[Long])

  class CmsPartialProcessor(dRows: Int, w: Int) extends
      org.apache.spark.sql.streaming.StatefulProcessor[(String, Int), Event, CmsPartialRow] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var st: ValueState[CmsPartialState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[CmsPartialState](
        "cmsPartialRegisters", Encoders.product[CmsPartialState], TTLConfig.NONE)

    override def handleInputRows(key: (String, Int), rows: Iterator[Event],
        timerValues: TimerValues): Iterator[CmsPartialRow] = {
      val prev = if (st.exists()) st.get() else CmsPartialState(0L, Array.fill(dRows * w)(0L))
      val regs = prev.regs.clone()
      val n = prev.n + cmsFold(regs, dRows, w, rows)
      st.update(CmsPartialState(n, regs))
      Iterator.single(CmsPartialRow(key._1, key._2, n, regs.clone()))
    }
  }

  /** q162's streaming twin, deployment default: types×salts fold
    * parallelism with `salts` from the `spark.graft.sketch.salts` dial.
    */
  def cmsStreamPartials(events: Dataset[Event]): Dataset[CmsPartialRow] =
    cmsStreamPartials(events, sketchSalts(events.sparkSession))

  /** q162's CMS with types×`salts` fold parallelism (see
    * hllSketchStreamPartials).
    */
  def cmsStreamPartials(events: Dataset[Event], salts: Int,
      dRows: Int = 4, w: Int = 256): Dataset[CmsPartialRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.event_type, (e.user_id % salts).toInt))
      .transformWithState(new CmsPartialProcessor(dRows, w),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** Stateless downstream assembly for CMS: per (type, salt) keep the
    * max-n (final) emission, then element-wise ADD across salts — the
    * CMS merge — and summarize. Bit-identical to cmsStream's final
    * rows and the batch register table over the same rows.
    */
  def mergeCmsPartials(partials: Dataset[CmsPartialRow], dRows: Int = 4,
      w: Int = 256): Dataset[CmsRow] = {
    import partials.sparkSession.implicits._
    partials
      .groupByKey(p => (p.event_type, p.salt))
      .reduceGroups((a, b) => if (a.n >= b.n) a else b)
      .map(_._2)
      .groupByKey(_.event_type)
      .reduceGroups { (a, b) =>
        val m = a.regs.clone()
        var i = 0
        while (i < m.length) { m(i) += b.regs(i); i += 1 }
        CmsPartialRow(a.event_type, -1, a.n + b.n, m)
      }
      .map { case (t, p) => cmsSummary(t, p.regs, dRows, w) }
  }

  case class MgRow(event_type: String, n: Long, cand_ids: Array[Long],
      cand_counts: Array[Long])

  /** Counter-map state (parallel arrays, product encoder). */
  case class MgCounters(ids: Array[Long], counts: Array[Long])

  /** The Misra–Gries fold — q106's per-partition candidate generator as
    * a streaming fold. MG is ORDER-DEPENDENT, so determinism comes from
    * folding each batch's rows in (ts, event_id) order; the guarantee
    * that matters is order-FREE: after n rows, every id with true count
    * > n/k is among the ≤ k candidates (the spec's law, plus exact
    * equality with a single batch fold in the same order).
    */
  private[graft] def mgFold(m: scala.collection.mutable.LinkedHashMap[Long, Long],
      k: Int, evs: Seq[Event]): Long = {
    var n = 0L
    evs.sortBy(e => (tsMicros(e.ts), e.event_id)).foreach { e =>
      val id = e.user_id
      if (m.contains(id)) m(id) += 1L
      else if (m.size < k) m(id) = 1L
      else m.keys.toSeq.foreach { kk =>
        val v = m(kk) - 1L
        if (v == 0L) m.remove(kk) else m(kk) = v
      }
      n += 1L
    }
    n
  }

  /** q106's heavy-hitter candidates under streaming state (the modern
    * transformWithState surface): per event_type, ≤ k Misra–Gries
    * counters over user ids; each batch folds in sorted (ts, event_id)
    * order so stream ≡ single batch fold when batches arrive in order.
    * In the q106 deployment the candidates feed an exact re-count — here
    * they bound the stream's heavy-hitter set with k longs of state.
    */
  class MgProcessor(k: Int) extends
      org.apache.spark.sql.streaming.StatefulProcessor[String, Event, MgRow] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var st: ValueState[MgCounters] = _
    @transient private var nSt: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[MgCounters](
        "mgCounters", Encoders.product[MgCounters], TTLConfig.NONE)
      nSt = getHandle.getValueState[Long](
        "mgSeen", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[MgRow] = {
      val m = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
      if (st.exists()) {
        val c = st.get()
        c.ids.zip(c.counts).foreach { case (i, v) => m(i) = v }
      }
      val prior = if (nSt.exists()) nSt.get() else 0L
      val n = prior + mgFold(m, k, rows.toSeq)
      val pairs = m.toSeq.sortBy { case (i, c) => (-c, i) }
      st.update(MgCounters(pairs.map(_._1).toArray, pairs.map(_._2).toArray))
      nSt.update(n)
      Iterator.single(MgRow(key, n,
        pairs.map(_._1).toArray, pairs.map(_._2).toArray))
    }
  }

  def mgStream(events: Dataset[Event], k: Int = 8): Dataset[MgRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .transformWithState(new MgProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  case class ReachRow(event_type: String, dy: Long, v_zero: Long,
      hll_raw: Long, hll_est: Long, state_n: Long)

  /** Day-keyed register table state (parallel arrays, product encoder):
    * `days(i)` owns registers `regs(i*256 until (i+1)*256)`.
    */
  case class DayRegs(days: Array[Long], regs: Array[Long])

  /** q172's cumulative reach curve in streaming form (transformWithState):
    * per event type the state is the (day → 256 HLL registers) table;
    * each micro-batch folds rows into their day's registers by bucket
    * max — the HLL merge, order-free — and every batch re-emits the full
    * cumulative curve (registers merged day by day in day order), so
    * late rows for an EARLIER day legitimately revise every later day's
    * estimate, exactly like the anomaly monitor. `state_n` (rows folded)
    * stamps the final emission. State is 256 longs per observed
    * (type, day) — the same mergeable table the batch query builds, held
    * incrementally.
    */
  class ReachProcessor extends
      org.apache.spark.sql.streaming.StatefulProcessor[String, Event, ReachRow] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var st: ValueState[DayRegs] = _
    @transient private var nSt: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[DayRegs](
        "dayRegisters", Encoders.product[DayRegs], TTLConfig.NONE)
      nSt = getHandle.getValueState[Long](
        "reachSeen", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[ReachRow] = {
      val m = scala.collection.mutable.LongMap.empty[Array[Long]]
      if (st.exists()) {
        val dr = st.get()
        dr.days.zipWithIndex.foreach { case (d, i) =>
          m(d) = dr.regs.slice(i * 256, (i + 1) * 256)
        }
      }
      val md = java.security.MessageDigest.getInstance("MD5")
      var folded = 0L
      rows.foreach { e =>
        val micros = tsMicros(e.ts)
        val dy = micros / 86400000000L
        val regs = m.getOrElseUpdate(dy, Array.fill(256)(0L))
        hllFoldOne(md, regs, e.user_id)
        folded += 1L
      }
      val days = m.keys.toArray.sorted
      st.update(DayRegs(days, days.flatMap(m(_))))
      val n = (if (nSt.exists()) nSt.get() else 0L) + folded
      nSt.update(n)
      // cumulative merge in day order, summarizing after each day
      val cum = Array.fill(256)(0L)
      days.iterator.map { dy =>
        val dayRegs = m(dy)
        var i = 0
        while (i < 256) {
          if (dayRegs(i) > cum(i)) cum(i) = dayRegs(i); i += 1
        }
        val h = hllSummary(key, cum)
        ReachRow(key, dy, h.v_zero, h.hll_raw, h.hll_est, n)
      }
    }
  }

  def reachStream(events: Dataset[Event]): Dataset[ReachRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .transformWithState(new ReachProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  case class TransitionRow(user_id: Long, from_type: String, to_type: String,
      cnt: Long)

  /** Per-user last-event + transition-count state (product encoder). */
  case class UserTransitions(last_type: String, froms: Array[String],
      tos: Array[String], counts: Array[Long])

  /** q128's Markov transition counts in streaming form
    * (transformWithState, keyed by USER — the partitioning the batch
    * window uses): state is the user's last event type plus their
    * (from, to) counts; each batch folds its rows in (ts, event_id)
    * order, chaining across batches through the stored last type.
    * Transition-count ADDITION makes the aggregate mergeable; the
    * per-user chain is order-dependent, so determinism comes from the
    * sorted fold (the MG convention). Emits the user's updated counts
    * each batch; the corpus-level q128 matrix is one downstream
    * aggregate away.
    */
  class TransitionProcessor extends
      org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, TransitionRow] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var st: ValueState[UserTransitions] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[UserTransitions](
        "userTransitions", Encoders.product[UserTransitions], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[TransitionRow] = {
      val m = scala.collection.mutable.LinkedHashMap.empty[(String, String), Long]
      var last: String = null
      if (st.exists()) {
        val ut = st.get()
        last = ut.last_type
        ut.froms.indices.foreach { i =>
          m((ut.froms(i), ut.tos(i))) = ut.counts(i)
        }
      }
      rows.toSeq.sortBy(e => (tsMicros(e.ts), e.event_id)).foreach { e =>
        if (last != null) {
          val k = (last, e.event_type)
          m(k) = m.getOrElse(k, 0L) + 1L
        }
        last = e.event_type
      }
      val pairs = m.toSeq.sortBy { case ((f, t), _) => (f, t) }
      st.update(UserTransitions(last,
        pairs.map(_._1._1).toArray, pairs.map(_._1._2).toArray,
        pairs.map(_._2).toArray))
      pairs.iterator.map { case ((f, t), c) => TransitionRow(key, f, t, c) }
    }
  }

  def transitionStream(events: Dataset[Event]): Dataset[TransitionRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new TransitionProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  case class LatenessRow(event_type: String, n: Long, n_out_of_order: Long,
      ooo_q6: Long, max_late_us: Long, p99_bin_hi_us: Long)

  /** Running max + counters + log₂-bucketed lateness histogram
    * (product encoder). Bin k holds lateness in [2^k, 2^(k+1)) µs,
    * bin 0 also catches < 1 µs; 40 bins cover ~13 days.
    */
  case class LatenessState(run_max: Long, n: Long, n_late: Long,
      max_late: Long, bins: Array[Long])

  /** q177's watermark advisor in STREAMING form — the live disorder
    * monitor that tunes `withWatermark` while the stream runs: per
    * event type, state is the running event-time max (arrival order =
    * stream order, which is exactly what the batch form's event_id
    * proxy stands in for), exact out-of-order counters, and a log₂
    * lateness histogram whose bins ADD (mergeable) — p99 lateness is
    * then read off the histogram to within a factor-2 bin width, the
    * honest resolution for picking a watermark. Exact fields (n, ooo,
    * max) match the batch replay when events arrive in event_id order;
    * the spec pins both laws.
    */
  class LatenessProcessor extends
      org.apache.spark.sql.streaming.StatefulProcessor[String, Event, LatenessRow] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var st: ValueState[LatenessState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[LatenessState](
        "lateness", Encoders.product[LatenessState], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[LatenessRow] = {
      var s = if (st.exists()) st.get()
        else LatenessState(Long.MinValue, 0L, 0L, 0L, Array.fill(40)(0L))
      // clone on read: never mutate the state-store-returned instance
      val bins = s.bins.clone()
      var (runMax, n, nLate, maxLate) = (s.run_max, s.n, s.n_late, s.max_late)
      rows.toSeq.sortBy(_.event_id).foreach { e =>
        // event_id is the ingestion sequence (the batch form's arrival
        // proxy) — sorting the batch by it makes the fold deterministic
        // and batch-replayable; real deployments fold raw arrival order
        val micros = tsMicros(e.ts)
        val late = if (runMax == Long.MinValue) 0L
          else math.max(0L, runMax - micros)
        if (late > 0L) {
          nLate += 1L
          if (late > maxLate) maxLate = late
          bins(math.min(39, 63 - java.lang.Long.numberOfLeadingZeros(
            math.max(1L, late)))) += 1L
        } else bins(0) += 1L
        if (micros > runMax) runMax = micros
        n += 1L
      }
      st.update(LatenessState(runMax, n, nLate, maxLate, bins))
      // p99 bin: smallest bin whose cumulative count covers 99% of rows
      val target = (99L * n + 99L) / 100L
      var (cum, k, p99bin) = (0L, 0, 0)
      while (k < 40 && cum < target) { cum += bins(k); p99bin = k; k += 1 }
      Iterator.single(LatenessRow(key, n, nLate,
        nLate * 1000000L / math.max(1L, n), maxLate,
        if (p99bin == 0) 0L else (1L << (p99bin + 1)) - 1L))
    }
  }

  def latenessStream(events: Dataset[Event]): Dataset[LatenessRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .transformWithState(new LatenessProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** The T1 snapshot row fed to `snapshotDiffStream` as initial state:
    * the keyed latest value as of the last batch diff (q190's s1 side).
    */
  case class SnapInit(user_id: Long, event_type: String, v1: Double)

  case class SnapDiffRow(user_id: Long, event_type: String,
      status: String, value: Double)

  // NOT private: Janino-generated encoder code can't access private
  // classes — a private state class silently drops the whole state
  // serializer to interpreter mode (observed as an UnsafeProjection
  // codegen-fallback warning in the suite)
  case class SnapState(has1: Boolean, v1: Double,
      hasCur: Boolean, ts_us: Long, event_id: Long, cur: Double)

  /** q190's snapshot diff LIVE — the CDC classification computed while
    * the post-T1 tail streams in, instead of re-scanning both snapshots:
    * initial state is the T1 keyed latest-value snapshot
    * (`StatefulProcessorWithInitialState`, the q149 manifest
    * discipline — state-store-backed, never a broadcast), each arriving
    * event advances the key's latest (ts, event_id, value) by a MAX fold
    * (commutative — the emitted classification is a pure function of
    * the key's event set, independent of micro-batch placement), and
    * every update emits the key's current added/changed/unchanged
    * status. Keys with no post-T1 events stay silently `unchanged` —
    * exactly the batch form's classification for them.
    */
  class SnapshotDiffProcessor extends
      org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        (Long, String), Event, SnapDiffRow, SnapInit] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var st: ValueState[SnapState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[SnapState](
        "snap", Encoders.product[SnapState], TTLConfig.NONE)

    override def handleInitialState(key: (Long, String), init: SnapInit,
        timerValues: TimerValues): Unit =
      st.update(SnapState(has1 = true, init.v1,
        hasCur = false, Long.MinValue, Long.MinValue, 0.0))

    override def handleInputRows(key: (Long, String), rows: Iterator[Event],
        timerValues: TimerValues): Iterator[SnapDiffRow] = {
      var s = if (st.exists()) st.get()
        else SnapState(has1 = false, 0.0,
          hasCur = false, Long.MinValue, Long.MinValue, 0.0)
      rows.foreach { e =>
        val micros = tsMicros(e.ts)
        if (!s.hasCur || micros > s.ts_us ||
            (micros == s.ts_us && e.event_id > s.event_id))
          s = s.copy(hasCur = true, ts_us = micros,
            event_id = e.event_id, cur = e.value)
      }
      st.update(s)
      val status =
        if (!s.has1) "added"
        else if (s.hasCur && s.cur != s.v1) "changed"
        else "unchanged"
      Iterator.single(SnapDiffRow(key._1, key._2, status,
        if (s.hasCur) s.cur else s.v1))
    }
  }

  /** `SnapshotDiffProcessor` wired to a T1 snapshot. Needs the RocksDB
    * provider (multi-column-family state), like every transformWithState
    * operator here.
    */
  def snapshotDiffStream(events: Dataset[Event],
      snapshot: Dataset[SnapInit]): Dataset[SnapDiffRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .transformWithState(new SnapshotDiffProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update(),
        snapshot.groupByKey(s => (s.user_id, s.event_type)))
  }

  case class DepthBinRow(event_type: String, bin: Long, n_rows: Long,
      lo: Double, hi: Double, state_n: Long)

  /** Distinct-value histogram state (parallel arrays, value-sorted). */
  case class ValueCounts(vs: Array[Double], cs: Array[Long])

  /** q191's equi-depth histogram LIVE (transformWithState) — the CBO
    * statistic maintained while the log streams in: per event_type the
    * state is the exact distinct-(value → count) table; each batch folds
    * its rows in by count ADDITION (mergeable, split-independent) and
    * re-emits the full B-bin equi-depth histogram. Rank-order ties all
    * share one value, so bin counts/lo/hi are a pure function of the
    * count table — the streamed emission equals the batch q191 rows
    * EXACTLY, whatever the micro-batch split (the spec's law).
    *
    * State is |distinct values| per type — the exact rung, like the
    * batch form's exactness; at deployment scale the same emission
    * contract runs off a mergeable KLL sketch (q44's built-in) with
    * rank-error bounds instead of exact distinct values.
    */
  class EquiDepthProcessor(bins: Int) extends
      org.apache.spark.sql.streaming.StatefulProcessor[String, Event, DepthBinRow] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var st: ValueState[ValueCounts] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[ValueCounts](
        "valueCounts", Encoders.product[ValueCounts], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[DepthBinRow] = {
      val m = scala.collection.mutable.HashMap.empty[Double, Long]
      if (st.exists()) {
        val vc = st.get()
        vc.vs.indices.foreach(i => m(vc.vs(i)) = vc.cs(i))
      }
      rows.foreach(e => m(e.value) = m.getOrElse(e.value, 0L) + 1L)
      val sorted = m.toArray.sortBy(_._1)
      st.update(ValueCounts(sorted.map(_._1), sorted.map(_._2)))
      val n = sorted.map(_._2).sum
      // walk the value groups once, splitting each across the rank-bins
      // it spans: bin of rank rn is (rn-1)*B div n (the batch formula)
      val out = Array.fill(bins)((0L, Double.MaxValue, Double.MinValue))
      var rank = 1L
      sorted.foreach { case (v, c) =>
        var left = c
        while (left > 0L) {
          val b = ((rank - 1L) * bins / n).toInt
          // last rank rn of bin b satisfies (rn−1)·B div n == b, i.e.
          // rn−1 ≤ (n·(b+1)−1) div B — inverting the bin formula
          // exactly (a naive floor((b+1)·n/B) end misses the bins the
          // formula leaves empty when n < B and loops forever)
          val binEnd = (n * (b + 1L) - 1L) / bins + 1L
          val take = math.min(left, binEnd - rank + 1L)
          val (bn, blo, bhi) = out(b)
          out(b) = (bn + take, math.min(blo, v), math.max(bhi, v))
          rank += take
          left -= take
        }
      }
      out.iterator.zipWithIndex.filter(_._1._1 > 0L).map {
        case ((bn, blo, bhi), b) => DepthBinRow(key, b.toLong, bn, blo, bhi, n)
      }
    }
  }

  def equiDepthStream(events: Dataset[Event], bins: Int = 8): Dataset[DepthBinRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .transformWithState(new EquiDepthProcessor(bins),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  case class CompactRow(event_type: String, day: Long, n_rows: Long,
      out_file: Long, file_parts: Long, file_rows: Long, state_n: Long)

  /** q193's compaction plan LIVE (transformWithState) — the OPTIMIZE
    * planner running against the ingest stream instead of a nightly
    * scan: per event_type the state is the (day → row count) table
    * (calendar-bounded, count ADDITION = the merge, like the reach
    * curve's day table); each batch re-runs the next-fit fold IN DAY
    * ORDER over that tiny table and re-emits the whole plan. Re-running
    * the fold is deliberate, not a shortcut: next-fit is order-
    * dependent, so a late row for an EARLIER day legitimately revises
    * the packing of every later day — same revision semantics as the
    * anomaly monitor and the reach curve. Unlike q57's
    * `CurationStream.packStream`, which carries its running offset
    * across batches, the (file, load) next-fit state lives only inside
    * one day-ordered fold;
    * `state_n` (rows folded) stamps emissions for the final-row law.
    */
  class CompactionProcessor(capacity: Long) extends
      org.apache.spark.sql.streaming.StatefulProcessor[String, Event, CompactRow] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var st: ValueState[DayCounts] = _
    @transient private var nSt: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[DayCounts](
        "dayRows", Encoders.product[DayCounts], TTLConfig.NONE)
      nSt = getHandle.getValueState[Long](
        "compactSeen", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[CompactRow] = {
      val m = scala.collection.mutable.LongMap.empty[Long]
      if (st.exists()) {
        val dc = st.get()
        dc.days.indices.foreach(i => m(dc.days(i)) = dc.counts(i))
      }
      var folded = 0L
      rows.foreach { e =>
        val micros = tsMicros(e.ts)
        val dy = micros / 86400000000L
        m(dy) = m.getOrElse(dy, 0L) + 1L
        folded += 1L
      }
      val days = m.keys.toArray.sorted
      st.update(DayCounts(days, days.map(m(_))))
      val n = (if (nSt.exists()) nSt.get() else 0L) + folded
      nSt.update(n)
      // the batch fold, verbatim: next-fit in day order, an oversized
      // day keeps its own file, a partition is never split
      var (f, load) = (0L, 0L)
      val packed = days.map { dy =>
        val c = m(dy)
        if (load + c > capacity && load > 0L) { f += 1L; load = c }
        else load += c
        (dy, c, f)
      }
      val files = packed.groupBy(_._3).map { case (fi, ps) =>
        fi -> (ps.length.toLong, ps.map(_._2).sum)
      }
      packed.iterator.map { case (dy, c, fi) =>
        val (parts, frows) = files(fi)
        CompactRow(key, dy, c, fi, parts, frows, n)
      }
    }
  }

  def compactionStream(events: Dataset[Event],
      capacity: Long = 1000L): Dataset[CompactRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .transformWithState(new CompactionProcessor(capacity),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** A type's full current register vector — the wire row between the
    * per-type register-merge stage and the overlap stage.
    */
  case class HllRegsRow(event_type: String, regs: Array[Long], state_n: Long)

  /** Stage 1 of streaming q196: the q127 register merge, emitting the
    * REGISTERS (not the summary) so a downstream stage can do set
    * algebra on them. Same fold as hllSketchStream; `state_n` stamps
    * the emission.
    */
  class HllRegsProcessor extends
      org.apache.spark.sql.streaming.StatefulProcessor[String, Event, HllRegsRow] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var st: ValueState[HllRegs] = _
    @transient private var nSt: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[HllRegs](
        "hllRegisters", Encoders.product[HllRegs], TTLConfig.NONE)
      nSt = getHandle.getValueState[Long](
        "hllSeen", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[HllRegsRow] = {
      // clone on read AND on emit: the state-store-returned instance is
      // never mutated, and the emitted row never shares the instance the
      // store holds (the WeekHistProcessor convention)
      val regs = if (st.exists()) st.get().regs.clone() else Array.fill(256)(0L)
      var folded = 0L
      val counted = rows.map { e => folded += 1L; e }
      hllFold(regs, counted)
      st.update(HllRegs(regs))
      val n = (if (nSt.exists()) nSt.get() else 0L) + folded
      nSt.update(n)
      Iterator.single(HllRegsRow(key, regs.clone(), n))
    }
  }

  def hllRegisterStream(events: Dataset[Event]): Dataset[HllRegsRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .transformWithState(new HllRegsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  case class OverlapRow(type_a: String, type_b: String, est_a: Long,
      est_b: Long, est_union: Long, est_inter: Long, jaccard_q6: Long)

  /** All types' latest registers (parallel arrays: `types(i)` owns
    * `regs(i*256 until (i+1)*256)`, stamped by `stamps(i)` = the
    * highest state_n folded — replays/reorders on the hop can never
    * regress a type's registers).
    */
  case class TypeRegs(types: Array[String], stamps: Array[Long],
      regs: Array[Long])

  /** Stage 2 of streaming q196: pairwise HLL set algebra over the
    * register rows stage 1 emits (in production the hop is a topic; the
    * spec chains the two stages through a memory sink the same way).
    * One constant key holds the |types|·256-long latest-register table —
    * the state is SKETCH-sized, never user-sized, which is the entire
    * point of the q196 estimator — and each batch re-emits every pair's
    * (est_a, est_b, est_union, est_inter, jaccard). Incoming rows
    * REPLACE their type's registers (stage 1 emits cumulative state, so
    * replace-by-latest is the merge). Estimates ride the same
    * `hllSummary` constants as the batch query; the batch form's exact
    * audit columns are its declared batch-only rung — the stream emits
    * the estimator, which is the product.
    */
  class OverlapProcessor extends
      org.apache.spark.sql.streaming.StatefulProcessor[Long, HllRegsRow, OverlapRow] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var st: ValueState[TypeRegs] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[TypeRegs](
        "typeRegisters", Encoders.product[TypeRegs], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[HllRegsRow],
        timerValues: TimerValues): Iterator[OverlapRow] = {
      val m = scala.collection.mutable.LinkedHashMap
        .empty[String, (Long, Array[Long])]
      if (st.exists()) {
        val tr = st.get()
        tr.types.zipWithIndex.foreach { case (t, i) =>
          m(t) = (tr.stamps(i), tr.regs.slice(i * 256, (i + 1) * 256))
        }
      }
      // keep each type's highest-state_n registers — stage 1 emits
      // cumulative state, so newest-wins IS the merge, and the stored
      // stamp makes a replayed older row a no-op
      rows.foreach { r =>
        if (!m.contains(r.event_type) || r.state_n > m(r.event_type)._1)
          m(r.event_type) = (r.state_n, r.regs)
      }
      val types = m.keys.toArray.sorted
      st.update(TypeRegs(types, types.map(m(_)._1),
        types.flatMap(t => m(t)._2)))
      (for {
        i <- types.indices.iterator
        j <- (i + 1) until types.length
      } yield {
        val (a, b) = (types(i), types(j))
        val (ra, rb) = (m(a)._2, m(b)._2)
        val union = Array.tabulate(256)(x => math.max(ra(x), rb(x)))
        val (estA, estB, estU) = (hllSummary(a, ra).hll_est,
          hllSummary(b, rb).hll_est, hllSummary(a, union).hll_est)
        val inter = math.max(0L, estA + estB - estU)
        OverlapRow(a, b, estA, estB, estU, inter,
          if (estU > 0L) inter * 1000000L / estU else 0L)
      })
    }
  }

  def hllOverlapStream(regRows: Dataset[HllRegsRow]): Dataset[OverlapRow] = {
    import regRows.sparkSession.implicits._
    regRows
      .groupByKey(_ => 0L)
      .transformWithState(new OverlapProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  case class SlidingRow(dy: Long, n_days: Long, v_zero: Long,
      hll_raw: Long, hll_est: Long, state_n: Long)

  /** q201's sliding-window actives LIVE (transformWithState) — the WAU
    * monitor on the stream: state is the same (day → 256 HLL
    * registers) table as the reach curve, and each batch re-emits the
    * whole observed-day grid with every day's estimate merged from its
    * [d−window+1, d] register rows — late rows for an earlier day
    * legitimately revise every window containing it. Global users, so
    * one constant key holds the day-bounded register table; a
    * deployment shards stage 1 per partition and merges through a hop
    * exactly like the q196 register→overlap chain — the state algebra
    * is identical, only the routing differs.
    */
  class SlidingActivesProcessor(window: Int) extends
      org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, SlidingRow] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var st: ValueState[DayRegs] = _
    @transient private var nSt: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[DayRegs](
        "slidingDayRegisters", Encoders.product[DayRegs], TTLConfig.NONE)
      nSt = getHandle.getValueState[Long](
        "slidingSeen", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[SlidingRow] = {
      val m = scala.collection.mutable.LongMap.empty[Array[Long]]
      if (st.exists()) {
        val dr = st.get()
        dr.days.zipWithIndex.foreach { case (d, i) =>
          m(d) = dr.regs.slice(i * 256, (i + 1) * 256)
        }
      }
      val md = java.security.MessageDigest.getInstance("MD5")
      var folded = 0L
      rows.foreach { e =>
        val micros = tsMicros(e.ts)
        val dy = micros / 86400000000L
        val regs = m.getOrElseUpdate(dy, Array.fill(256)(0L))
        hllFoldOne(md, regs, e.user_id)
        folded += 1L
      }
      val days = m.keys.toArray.sorted
      st.update(DayRegs(days, days.flatMap(m(_))))
      val n = (if (nSt.exists()) nSt.get() else 0L) + folded
      nSt.update(n)
      days.iterator.map { dy =>
        val inWin = days.filter(d => d >= dy - (window - 1) && d <= dy)
        val merged = Array.fill(256)(0L)
        inWin.foreach { d =>
          val r = m(d); var i = 0
          while (i < 256) { if (r(i) > merged(i)) merged(i) = r(i); i += 1 }
        }
        val h = hllSummary("all", merged)
        SlidingRow(dy, inWin.length.toLong, h.v_zero, h.hll_raw, h.hll_est, n)
      }
    }
  }

  def slidingActivesStream(events: Dataset[Event],
      window: Int = 7): Dataset[SlidingRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_ => 0L)
      .transformWithState(new SlidingActivesProcessor(window),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** Stage-1 row of streaming q214: one closed hourly (hour, type)
    * count, emitted by the ENGINE's watermarked window aggregate.
    */
  case class HourTypeCount(hour_us: Long, event_type: String, cnt: Long)

  /** A trending emission: the hour's current top-`k` with ranks;
    * `state_n` stamps the fold so the final emission per hour is
    * identifiable under replays (the compaction-stream convention).
    */
  case class TrendRow(hour_us: Long, event_type: String, cnt: Long,
      rnk: Int, state_n: Long)

  /** Stage 1 of streaming q214: hourly per-type counts on the engine's
    * OWN windowed-aggregate state — `withWatermark` + `window()` in
    * append mode, so a (hour, type) row emits exactly once, when the
    * watermark passes the hour's end (the W1–W3 machinery, where every
    * other stage-1 in this file is hand-rolled keyed state). State is
    * engine-managed and hour-bounded; late rows inside the delay fold
    * in, later ones drop — the standard trade.
    */
  def hourlyTypeCounts(events: Dataset[Event],
      delay: String = "1 hour"): Dataset[HourTypeCount] = {
    import events.sparkSession.implicits._
    events.toDF()
      .withWatermark("ts", delay)
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("cnt"))
      .select(unix_micros($"window.start").as("hour_us"), $"event_type", $"cnt")
      .as[HourTypeCount]
  }

  /** All of one hour's type counts (parallel arrays, replace-by-type on
    * duplicate arrivals) — bounded by |event types|, never by events.
    */
  case class HourTrendState(types: Array[String], cnts: Array[Long], n: Long)

  /** Stage 2 of streaming q214: per-hour top-k fold over the closed
    * count rows stage 1 emits (chained through a topic-shaped hop, the
    * q196 convention). State is the hour's (type, cnt) table —
    * |types|-bounded — and each batch re-emits the hour's current
    * top-k (ties → type asc, the `plans.TopKRowsAgg` order), so the
    * final emission per hour is the q214 batch answer.
    */
  class TrendProcessor(k: Int) extends
      org.apache.spark.sql.streaming.StatefulProcessor[
        Long, HourTypeCount, TrendRow] {
    import org.apache.spark.sql.{Encoders => Encs}
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var st: ValueState[HourTrendState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[HourTrendState](
        "hourTrend", Encs.product[HourTrendState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[HourTypeCount],
        timerValues: TimerValues): Iterator[TrendRow] = {
      val prior = if (st.exists()) st.get()
        else HourTrendState(Array.empty, Array.empty, 0L)
      var m = prior.types.zip(prior.cnts).toMap
      var n = prior.n
      rows.foreach { r => m += (r.event_type -> r.cnt); n += 1 }
      val ts = m.keys.toArray.sorted
      st.update(HourTrendState(ts, ts.map(m), n))
      m.toSeq.sortBy { case (t, c) => (-c, t) }.take(k).zipWithIndex
        .map { case ((t, c), i) => TrendRow(key, t, c, i + 1, n) }
        .iterator
    }
  }

  /** Streaming q214 (stage 2 entry point). */
  def trendingStream(rows: Dataset[HourTypeCount], k: Int = 3): Dataset[TrendRow] = {
    import rows.sparkSession.implicits._
    rows
      .groupByKey(_.hour_us)
      .transformWithState(new TrendProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  case class CusumRow(event_type: String, n_days: Long, n_events: Long,
    break_dy: Long, cusum_dev: Long, rate_before_q3: Long,
    rate_after_q3: Long, state_n: Long)

  /** q246's STREAMING twin: the CUSUM change-point monitor live — per
    * event type the state is the same additive (day → count) vector as
    * the q153 anomaly twin (histogram merge, micro-batch-split
    * independent), and every batch re-emits the CURRENT located break
    * day with its deviation and before/after rates, recomputed from
    * state with the batch operator's exact integer math (cross-
    * multiplied BigInt deviations, earliest-day ties). This is the form
    * an on-call screen actually wants: the break-day column CHANGES the
    * moment accumulating evidence relocates the regime shift —
    * something the batch scan only shows on re-run. `state_n` stamps
    * the final emission for the state≡batch law (EventStreamsSpec).
    */
  class CusumProcessor extends
      org.apache.spark.sql.streaming.StatefulProcessor[String, Event, CusumRow] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var st: ValueState[DayCounts] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[DayCounts](
        "cusumDayCounts", Encoders.product[DayCounts], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[CusumRow] = {
      val m = scala.collection.mutable.LongMap.empty[Long]
      if (st.exists()) {
        val dc = st.get()
        dc.days.zip(dc.counts).foreach { case (d, c) => m(d) = c }
      }
      rows.foreach { e =>
        val micros = tsMicros(e.ts)
        val dy = micros / 86400000000L
        m(dy) = m.getOrElse(dy, 0L) + 1L
      }
      val pairs = m.toSeq.sortBy(_._1)
      st.update(DayCounts(pairs.map(_._1).toArray, pairs.map(_._2).toArray))
      val n = pairs.length.toLong
      val sn = pairs.map(_._2).sum
      var sk = 0L
      var best: (BigInt, Long, Long, Long) = null // (dev, dy, k, sk)
      pairs.zipWithIndex.foreach { case ((dy, c), i) =>
        sk += c
        val dev = (BigInt(sk) * n - BigInt(i + 1) * sn).abs
        if (best == null || dev > best._1) best = (dev, dy, i + 1L, sk)
      }
      val (dev, bd, bk, bsk) = best
      val rb = BigDecimal(bsk.toDouble / bk * 1000.0)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      val ra = if (n > bk)
        BigDecimal((sn - bsk).toDouble / (n - bk) * 1000.0)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      else 0L
      Iterator.single(CusumRow(key, n, sn, bd, dev.toLong, rb, ra, sn))
    }
  }

  /** Streaming q246 entry point: events key by type; the day histogram
    * folds additively and every batch re-emits the current break.
    */
  def cusumStream(events: Dataset[Event]): Dataset[CusumRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .transformWithState(new CusumProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  case class GapState(last_us: Long, n: Long, sg: Long, sggStr: String)

  case class GapRow(user_id: Long, event_type: String, n_gaps: Long,
    sg: Long, sggStr: String)

  /** q234's STREAMING twin: the burstiness SUFFICIENT STATISTIC
    * (n, Σg, Σg², last event time) folded live in per-(user, type)
    * keyed state — the right decomposition for a monitor, because
    * B = (√D − Σg)/(√D + Σg) with D = n·Σg² − (Σg)² needs only these
    * additive counters, so the corpus-level per-type B assembles from
    * the final per-key emissions by plain addition (the law
    * EventStreamsSpec pins against batch `Windowed.burstiness`). Σg²
    * exceeds 64 bits (a month-long gap squares to ~1e26), so it rides
    * the state as a decimal string — an exact 128-bit limb the encoder
    * stores as bytes anyway; everything else is two longs.
    *
    * Contract: per-key arrivals must be event-time ordered (a per-key
    * ordered log, or a watermark-buffered upstream like the q92 twin);
    * rows are sorted within each batch and a violation fails loudly
    * rather than folding a wrong gap.
    */
  class GapStatsProcessor extends
      org.apache.spark.sql.streaming.StatefulProcessor[
        (Long, String), Event, GapRow] {
    import org.apache.spark.sql.{Encoders => Encs}
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var st: ValueState[GapState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[GapState](
        "gapStats", Encs.product[GapState], TTLConfig.NONE)

    override def handleInputRows(key: (Long, String), rows: Iterator[Event],
        timerValues: TimerValues): Iterator[GapRow] = {
      var s = if (st.exists()) st.get() else GapState(Long.MinValue, 0L, 0L, "0")
      var sgg = BigInt(s.sggStr)
      def micros(e: Event): Long = tsMicros(e.ts)
      rows.toArray.sortBy(e => (micros(e), e.event_id)).foreach { e =>
        val tUs = micros(e)
        require(s.last_us == Long.MinValue || tUs >= s.last_us,
          s"out-of-order arrival for key $key: $tUs < ${s.last_us}")
        if (s.last_us != Long.MinValue) {
          val g = tUs - s.last_us
          sgg += BigInt(g) * BigInt(g)
          s = GapState(tUs, s.n + 1, s.sg + g, s.sggStr)
        } else s = GapState(tUs, s.n, s.sg, s.sggStr)
      }
      s = s.copy(sggStr = sgg.toString)
      st.update(s)
      if (s.n == 0) Iterator.empty
      else Iterator.single(GapRow(key._1, key._2, s.n, s.sg, s.sggStr))
    }
  }

  /** Streaming q234 entry point: events key by (user, type); gap
    * sufficient statistics fold in keyed state.
    */
  def burstinessStream(events: Dataset[Event]): Dataset[GapRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .transformWithState(new GapStatsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  def runningUserTotals(events: Dataset[Event]): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[Event], state: GroupState[UserTotals]) =>
          val prior = state.getOption.getOrElse(UserTotals(user, 0L, 0.0))
          val updated = evs.foldLeft(prior) { (acc, e) =>
            UserTotals(user, acc.n + 1, acc.total + e.value)
          }
          state.update(updated)
          updated
      }
  }

  case class DayTypeCount(day_us: Long, event_type: String, cnt: Long)

  /** Stage 1 of streaming q227: closed DAILY per-type counts (append
    * mode — a day's row emits exactly once when the watermark passes
    * its close, so stage 2's fold never sees a partial day twice).
    */
  def dailyTypeCounts(events: Dataset[Event],
      delay: String = "1 day"): Dataset[DayTypeCount] = {
    import events.sparkSession.implicits._
    events.toDF()
      .withWatermark("ts", delay)
      .groupBy(window($"ts", "1 day"), $"event_type")
      .agg(count(lit(1)).as("cnt"))
      .select(unix_micros($"window.start").as("day_us"), $"event_type", $"cnt")
      .as[DayTypeCount]
  }

  case class DecayRow(event_type: String, raw_cnt: Long, decayed_q3: Long,
    rank_raw: Long, rank_decayed: Long, state_n: Long)

  /** q227's STREAMING twin: the freshness-decayed leaderboard live —
    * the (event_type, day) -> cnt grid lives in MapState (the q233
    * surface: value-domain-bounded cells, |types|*|days| entries,
    * RocksDB-backed at scale, REPLACED on arrival so replays are
    * no-ops — the q196 convention), and every batch re-emits the whole
    * leaderboard from state with the batch operator's exact integer
    * math: dec_num = SUM cnt << (H - min(age, H)) against the CURRENT
    * max day, one division by 2^H at the end, ranks by (-key, type).
    * This is what the batch scan can't show: a type's decayed rank
    * DECAYS between arrivals of its own events, because every other
    * arrival can advance the newest day and re-age it — the live
    * leaderboard re-ranks on each batch from the same grid. The single
    * leaderboard key is fine at any corpus scale because stage 1
    * pre-aggregates: only closed |types|-per-day count rows reach it,
    * never events. `state_n` stamps emissions for the final-state law
    * (EventStreamsSpec: final emissions == the q227 batch table).
    */
  class DecayProcessor(horizon: Int) extends
      org.apache.spark.sql.streaming.StatefulProcessor[
        Long, DayTypeCount, DecayRow] {
    import org.apache.spark.sql.{Encoders => Encs}
    import org.apache.spark.sql.streaming.{MapState, TTLConfig, TimeMode, TimerValues}

    @transient private var grid: MapState[(String, Long), Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      grid = getHandle.getMapState[(String, Long), Long](
        "dayTypeGrid", Encs.product[(String, Long)], Encs.scalaLong,
        TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[DayTypeCount],
        timerValues: TimerValues): Iterator[DecayRow] = {
      rows.foreach { r =>
        grid.updateValue((r.event_type, r.day_us / 86400000000L), r.cnt)
      }
      val cells = grid.iterator().map { p => (p._1._1, p._1._2, p._2) }.toArray
      if (cells.isEmpty) Iterator.empty
      else {
        val maxDay = cells.map(_._2).max
        val n = cells.map(_._3).sum
        val per = cells.groupBy(_._1).toSeq.map { case (t, cs) =>
          val raw = cs.map(_._3).sum
          val dec = cs.map { case (_, dy, c) =>
            val age = math.min(maxDay - dy, horizon.toLong)
            c << (horizon - age.toInt)
          }.sum
          (t, raw, dec)
        }
        val rawRank = per.sortBy { case (t, raw, _) => (-raw, t) }
          .zipWithIndex.map { case ((t, _, _), i) => t -> (i + 1L) }.toMap
        val decRank = per.sortBy { case (t, _, dec) => (-dec, t) }
          .zipWithIndex.map { case ((t, _, _), i) => t -> (i + 1L) }.toMap
        per.sortBy(_._1).iterator.map { case (t, raw, dec) =>
          val q3 = BigDecimal(dec.toDouble / math.pow(2.0, horizon) * 1000.0)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
          DecayRow(t, raw, q3, rawRank(t), decRank(t), n)
        }
      }
    }
  }

  /** Streaming q227 entry point (stage 2): closed daily count rows fold
    * into the one leaderboard key's grid; every batch re-ranks.
    */
  def decayedLeaderboardStream(rows: Dataset[DayTypeCount],
      horizon: Int = 32): Dataset[DecayRow] = {
    import rows.sparkSession.implicits._
    rows
      .groupByKey(_ => 0L)
      .transformWithState(new DecayProcessor(horizon),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** A (week, value) row for the q178 streaming twin — stage 1 projects
    * `week_id = (unix_micros(ts) div 1e6) div 604800` off the feed.
    */
  case class WeekValue(week_id: Long, value: Double)

  case class WeekHistRow(week_id: Long, bins: Array[Long], n: Long)

  /** Per-week fixed-range histogram state for the q178 PSI drift
    * monitor — the q249 partials convention: each WEEK's 16 bin counts
    * accumulate in keyed ValueState (bin-count addition is the merge,
    * the histogramStream identity) and every batch re-emits the week's
    * full bin vector; the PSI-vs-base-week assembly (add-one smoothing,
    * the identical (p−q)·ln(p/q) 1e6-quantized chain) is the stateless
    * ≤ weeks·bins-row final step EventStreamsSpec performs and pins
    * against the q178 batch rows. Range is fixed a priori (the q129
    * streaming convention — no min/max pre-scan; out-of-range clamps to
    * the edge bins, exactly the batch clamp). Keyed by week: state is
    * nBins longs per week, and a week's history stops changing the
    * moment its events stop arriving.
    */
  class WeekHistProcessor(lo: Double, hi: Double, nBins: Int) extends
      org.apache.spark.sql.streaming.StatefulProcessor[
        Long, WeekValue, WeekHistRow] {
    import org.apache.spark.sql.{Encoders => Encs}
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var st: ValueState[HistBins] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[HistBins](
        "weekHist", Encs.product[HistBins], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[WeekValue],
        timerValues: TimerValues): Iterator[WeekHistRow] = {
      // clone on read AND on emit: mutating the state-store-returned
      // array in place (or emitting the instance the store still holds)
      // is an aliasing hazard if a provider ever returns a cached
      // deserialized object or defers emission encoding past the next
      // state read
      val bins = if (st.exists()) st.get().bins.clone() else Array.fill(nBins)(0L)
      rows.foreach { r =>
        // the exact batch bin chain: floor((v−lo)/span·nBins), clamped
        val b = math.min(nBins - 1, math.max(0,
          math.floor((r.value - lo) / (hi - lo) * nBins).toInt))
        bins(b) += 1L
      }
      st.update(HistBins(bins))
      Iterator.single(WeekHistRow(key, bins.clone(), bins.sum))
    }
  }

  /** Streaming q178 entry point. */
  def valueDriftStream(rows: Dataset[WeekValue], lo: Double, hi: Double,
      nBins: Int = 16): Dataset[WeekHistRow] = {
    require(hi > lo, s"valueDriftStream needs hi > lo (got lo=$lo, hi=$hi)")
    import rows.sparkSession.implicits._
    rows
      .groupByKey(_.week_id)
      .transformWithState(new WeekHistProcessor(lo, hi, nBins),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }
}
