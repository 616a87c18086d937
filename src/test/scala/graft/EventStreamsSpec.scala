package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

class EventStreamsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  def ts(s: String) = Timestamp.valueOf(s)

  test("sliding window agg fires on watermark in append mode (q10 logic, streaming)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStreams.slidingCounts(input.toDF())
      .writeStream.format("memory").queryName("ev_sliding").outputMode("append").start()
    try {
      input.addData(
        Event(1, ts("2024-01-01 00:05:00"), 1, "click", 10.0),
        Event(2, ts("2024-01-01 00:20:00"), 2, "click", 5.0),
        Event(3, ts("2024-01-01 00:10:00"), 1, "view", 1.0)) // out of order
      query.processAllAvailable()
      assert(spark.table("ev_sliding").count() == 0) // watermark behind window ends
      input.addData(Event(9, ts("2024-01-01 03:00:00"), 3, "view", 0.0))
      query.processAllAvailable()
      val rows = spark.table("ev_sliding")
        .as[(Long, String, Long, Double)].collect().toSet
      // window [00:00,01:00) per type: click cnt=2 sum=15, view cnt=1 sum=1
      assert(rows.exists { case (_, t, c, s) => t == "click" && c == 2 && s == 15.0 })
      assert(rows.exists { case (_, t, c, s) => t == "view" && c == 1 && s == 1.0 })
      // sliding windows: the 00:05 click appears in the 4 windows covering it
      assert(rows.count { case (_, t, _, _) => t == "click" } >= 4)
    } finally query.stop()
  }

  test("streaming session windows merge within the gap and fire on watermark (q41 logic)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStreams.sessionStream(input.toDF(), gap = "30 minutes")
      .writeStream.format("memory").queryName("ev_session").outputMode("append").start()
    try {
      input.addData(
        // user 1: two events 20 min apart → ONE session (gap 30)
        Event(1, ts("2024-01-01 00:00:00"), 1, "click", 10.0),
        Event(2, ts("2024-01-01 00:20:00"), 1, "click", 5.0),
        // user 1 again 2 h later → a SECOND session
        Event(3, ts("2024-01-01 02:00:00"), 1, "view", 1.0),
        // user 2: single-event session
        Event(4, ts("2024-01-01 00:10:00"), 2, "view", 2.0))
      query.processAllAvailable()
      input.addData(Event(9, ts("2024-01-01 06:00:00"), 3, "view", 0.0)) // probe
      query.processAllAvailable()
      val rows = spark.table("ev_session")
        .as[(Long, Long, Long, Long, Double)].collect()
        .map(r => (r._3, r._1) -> r).toMap
      val base = ts("2024-01-01 00:00:00").getTime / 1000
      // user 1 session 1: [00:00, 00:20+gap), 2 events, sum 15
      val s1 = rows((1L, base))
      assert(s1._2 == base + 20 * 60 + 30 * 60 && s1._4 == 2 && s1._5 == 15.0, s1)
      // user 1 session 2: singleton at 02:00
      val s2 = rows((1L, base + 7200))
      assert(s2._4 == 1 && s2._5 == 1.0, s2)
      // user 2: singleton
      assert(rows((2L, base + 600))._4 == 1)
      // runtime plumbing: merging session state, not plain window state
      val plan = TestSpark.streamingPlan(query)
      assert(plan.contains("SessionWindowStateStore"), plan)
    } finally query.stop()
  }

  test("streaming dedup keeps the first occurrence per id (watermarked state)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStreams.dedupStream(input.toDF())
      .select("event_id", "value")
      .writeStream.format("memory").queryName("ev_dedup").outputMode("append").start()
    try {
      input.addData(
        Event(1, ts("2024-01-01 00:00:00"), 1, "click", 1.0),
        Event(1, ts("2024-01-01 00:00:30"), 1, "click", 99.0), // dup id
        Event(2, ts("2024-01-01 00:01:00"), 2, "view", 2.0))
      query.processAllAvailable()
      input.addData(Event(1, ts("2024-01-01 00:02:00"), 1, "click", 77.0)) // dup again
      query.processAllAvailable()
      val rows = spark.table("ev_dedup").as[(Long, Double)].collect().toMap
      assert(rows.keySet == Set(1L, 2L))
      assert(rows(1L) == 1.0) // first occurrence won
      // runtime plumbing: dedup state must be the watermark-GC'd variant,
      // not the unbounded dropDuplicates state
      val plan = TestSpark.streamingPlan(query)
      assert(plan.contains("StreamingDeduplicateWithinWatermark"), plan)
    } finally query.stop()
  }

  test("stream-stream attribution join matches clicks within the hour window") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val query = EventStreams.attributionJoin(clicks.toDF(), purchases.toDF())
      .select("purchase_id", "click_value")
      .writeStream.format("memory").queryName("ev_attr").outputMode("append").start()
    try {
      clicks.addData(
        Event(1, ts("2024-01-01 09:30:00"), 7, "click", 1.0),   // in window
        Event(2, ts("2024-01-01 08:30:00"), 7, "click", 2.0),   // too old
        Event(3, ts("2024-01-01 09:45:00"), 8, "click", 3.0))   // other user
      purchases.addData(Event(10, ts("2024-01-01 10:00:00"), 7, "purchase", 50.0))
      query.processAllAvailable()
      // push watermarks forward so the joined rows finalize
      clicks.addData(Event(98, ts("2024-01-01 12:00:00"), 9, "click", 0.0))
      purchases.addData(Event(99, ts("2024-01-01 12:00:00"), 9, "purchase", 0.0))
      query.processAllAvailable()
      val rows = spark.table("ev_attr").as[(Long, Double)].collect().toSet
      assert(rows.contains((10L, 1.0)))         // the in-window click
      assert(!rows.exists(_._2 == 2.0))         // >1h before purchase
      assert(!rows.exists(_._2 == 3.0))         // different user
    } finally query.stop()
  }

  test("keyed running totals carry state across micro-batches (update mode)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStreams.runningUserTotals(input.toDS())
      .writeStream.format("memory").queryName("ev_totals").outputMode("update").start()
    try {
      input.addData(Event(1, ts("2024-01-01 00:00:00"), 7, "click", 2.5))
      query.processAllAvailable()
      input.addData(
        Event(2, ts("2024-01-01 00:01:00"), 7, "click", 1.5),
        Event(3, ts("2024-01-01 00:02:00"), 8, "view", 4.0))
      query.processAllAvailable()
      val latest = spark.table("ev_totals")
        .as[(Long, Long, Double)].collect()
        .groupBy(_._1).view.mapValues(_.maxBy(_._2)).toMap
      assert(latest(7L) == ((7L, 2L, 4.0))) // state carried: 2 events, 2.5+1.5
      assert(latest(8L) == ((8L, 1L, 4.0)))
    } finally query.stop()
  }

  test("hll stream [transformWithState] state equals the batch sketch across an arbitrary batch split") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val all = graft.core.Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect()
    TestSpark.withRocksDb {
      val input = MemoryStream[Event]
      val query = EventStreams.hllSketchStream(input.toDS())
        .writeStream.format("memory").queryName("hll_stream")
        .outputMode("update").start()
      try {
        // three arbitrary micro-batches: register max-merge is the HLL merge
        // op, so the final state must not depend on the split
        all.grouped(math.max(1, all.length / 3 + 1)).foreach { chunk =>
          input.addData(chunk.toIndexedSeq: _*)
          query.processAllAvailable()
        }
        val rows = spark.table("hll_stream")
          .as[(String, Long, Long, Long)].collect()
        // raw estimate grows monotonically with register state: the final
        // per-key row is the max-raw one
        val finalRows = rows.groupBy(_._1).map { case (_, rs) =>
          rs.maxBy(_._3)
        }.map(r => (r._1, r._2, r._3, r._4)).toSet
        val batch = graft.operators.Relational.hllDistinct(spark, sf)
          .select($"event_type", $"v_zero", $"hll_raw", $"hll_est")
          .as[(String, Long, Long, Long)].collect().toSet
        assert(finalRows == batch)
        assert(batch.nonEmpty)
      } finally query.stop()
    }
  }

  test("salted-partial sketches merge to the batch sketch across a batch split") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val all = graft.core.Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect()
    TestSpark.withRocksDb {
      // HLL: merge takes ALL update-mode emissions (register max is
      // monotone-idempotent, no final-row selection needed)
      val hIn = MemoryStream[Event]
      val hq = EventStreams.hllSketchStreamPartials(hIn.toDS(), salts = 8)
        .writeStream.format("memory").queryName("hll_partials")
        .outputMode("update").start()
      // CMS: merge selects each partial's final emission by fold count
      val cIn = MemoryStream[Event]
      val cq = EventStreams.cmsStreamPartials(cIn.toDS(), salts = 8)
        .writeStream.format("memory").queryName("cms_partials")
        .outputMode("update").start()
      try {
        all.grouped(math.max(1, all.length / 3 + 1)).foreach { chunk =>
          hIn.addData(chunk.toIndexedSeq: _*); hq.processAllAvailable()
          cIn.addData(chunk.toIndexedSeq: _*); cq.processAllAvailable()
        }
        val hllMerged = EventStreams.mergeHllPartials(
            spark.table("hll_partials").as[EventStreams.HllPartialRow])
          .as[(String, Long, Long, Long)].collect().toSet
        val hllBatch = graft.operators.Relational.hllDistinct(spark, sf)
          .select($"event_type", $"v_zero", $"hll_raw", $"hll_est")
          .as[(String, Long, Long, Long)].collect().toSet
        assert(hllMerged == hllBatch,
          "HLL partials must max-merge to the batch sketch bit-for-bit")
        // the CMS summary's F2 fingerprint is collision-sensitive enough
        // to pin the whole merged register table against the unsalted twin
        val cmsMerged = EventStreams.mergeCmsPartials(
            spark.table("cms_partials").as[EventStreams.CmsPartialRow])
          .as[(String, Long, Long, Long, Long)].collect().toSet
        val cmsIn2 = MemoryStream[Event]
        val cq2 = EventStreams.cmsStream(cmsIn2.toDS())
          .writeStream.format("memory").queryName("cms_unsalted")
          .outputMode("update").start()
        try {
          cmsIn2.addData(all.toIndexedSeq: _*); cq2.processAllAvailable()
          val unsalted = spark.table("cms_unsalted")
            .as[(String, Long, Long, Long, Long)].collect().toSet
          assert(cmsMerged == unsalted,
            "CMS partials must add-merge to the unsalted stream's rows")
        } finally cq2.stop()
      } finally { hq.stop(); cq.stop() }
    }
  }

  test("sketch salt dial: no-arg twins read spark.graft.sketch.salts; salts=1 equals the unsalted fold") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val all = graft.core.Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect()
    def runPartials(name: String): Set[(String, Int)] = {
      val in = MemoryStream[Event]
      val q = EventStreams.hllSketchStreamPartials(in.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      try {
        in.addData(all.toIndexedSeq: _*); q.processAllAvailable()
        spark.table(name).select($"event_type", $"salt")
          .as[(String, Int)].collect().toSet
      } finally q.stop()
    }
    TestSpark.withRocksDb {
      // dial respected: keys fan out over salts in [0, 4)
      spark.conf.set("spark.graft.sketch.salts", "4")
      try {
        val keys = runPartials("hll_dial4")
        assert(keys.map(_._2).forall(s => s >= 0 && s < 4))
        assert(keys.groupBy(_._1).values.exists(_.size > 1),
          "expected at least one type folded on >1 salt")
      } finally spark.conf.unset("spark.graft.sketch.salts")
      // salts=1: one fold per type, and the merged summary still equals
      // the batch sketch (the dial is invisible to results by law)
      spark.conf.set("spark.graft.sketch.salts", "1")
      try {
        val keys1 = runPartials("hll_dial1")
        assert(keys1.forall(_._2 == 0))
        val merged = EventStreams.mergeHllPartials(
            spark.table("hll_dial1").as[EventStreams.HllPartialRow])
          .as[(String, Long, Long, Long)].collect().toSet
        val batch = graft.operators.Relational.hllDistinct(spark, sf)
          .select($"event_type", $"v_zero", $"hll_raw", $"hll_est")
          .as[(String, Long, Long, Long)].collect().toSet
        assert(merged == batch)
      } finally spark.conf.unset("spark.graft.sketch.salts")
    }
  }

  test("anomaly stream state equals the q153 batch monitor across an arbitrary batch split") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val all = graft.core.Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect()
    TestSpark.withRocksDb {
      val input = MemoryStream[Event]
      val query = EventStreams.anomalyStream(input.toDS())
        .writeStream.format("memory").queryName("anomaly_stream")
        .outputMode("update").start()
      try {
        // five arbitrary micro-batches: count ADDITION is the daily-
        // histogram merge, so the final series must not depend on the
        // split — even though mid-stream batches emit PROVISIONAL z
        // values that later batches legitimately revise
        all.grouped(math.max(1, all.length / 5 + 1)).foreach { chunk =>
          input.addData(chunk.toIndexedSeq: _*)
          query.processAllAvailable()
        }
        val rows = spark.table("anomaly_stream")
          .as[(String, Long, Long, Long, Option[Double], Option[Double],
            Boolean, Long)].collect()
        // state_n is the monotone version stamp: final emission per type
        val fin = rows.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
          val last = rs.map(_._8).max
          rs.filter(_._8 == last).toSeq
        }.map(r => (r._1, r._2, r._3, r._4, r._5, r._6, r._7)).toSet
        val batch = graft.operators.Windowed.dailyAnomaly(spark, sf)
          .as[(String, Long, Long, Long, Option[Double], Option[Double], Boolean)]
          .collect().toSet
        assert(fin == batch)
        assert(batch.exists(_._6.isDefined), "fixture reaches past warm-up")
      } finally query.stop()
    }
  }

  test("histogram stream [transformWithState] bins equal a batch recompute across a batch split") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val all = graft.core.Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect()
    val (lo, hi) = (0.0, 600.0)
    TestSpark.withRocksDb {
      val input = MemoryStream[Event]
      val query = EventStreams.histogramStream(input.toDS(), lo, hi)
        .writeStream.format("memory").queryName("hist_stream")
        .outputMode("update").start()
      try {
        all.grouped(math.max(1, all.length / 4 + 1)).foreach { chunk =>
          input.addData(chunk.toIndexedSeq: _*)
          query.processAllAvailable()
        }
        val rows = spark.table("hist_stream")
          .as[(String, Long, Long, Long)].collect()
        // n grows monotonically: final row per key = max n
        val fin = rows.groupBy(_._1).map { case (_, rs) => rs.maxBy(_._2) }
        val expected = all.groupBy(_.event_type).map { case (t, es) =>
          val bins = Array.fill(64)(0L)
          es.foreach { e =>
            val b = math.min(63, math.max(0,
              math.floor((e.value - lo) / (hi - lo) * 64).toInt))
            bins(b) += 1
          }
          (t, es.length.toLong, bins.count(_ > 0L).toLong, bins.max)
        }.toSet
        assert(fin.toSet == expected)
        assert(expected.nonEmpty)
      } finally query.stop()
    }
  }

  test("cms stream [transformWithState] registers equal a batch fold across a batch split") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val all = graft.core.Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect()
    TestSpark.withRocksDb {
      val input = MemoryStream[Event]
      val query = EventStreams.cmsStream(input.toDS())
        .writeStream.format("memory").queryName("cms_stream")
        .outputMode("update").start()
      try {
        // count addition is the CMS merge: the final state must not
        // depend on the micro-batch split
        all.grouped(math.max(1, all.length / 4 + 1)).foreach { chunk =>
          input.addData(chunk.toIndexedSeq: _*)
          query.processAllAvailable()
        }
        val rows = spark.table("cms_stream")
          .as[(String, Long, Long, Long, Long)].collect()
        val fin = rows.groupBy(_._1).map { case (_, rs) => rs.maxBy(_._2) }
        // batch recompute with the same md5 hash
        val md = java.security.MessageDigest.getInstance("MD5")
        val expected = all.groupBy(_.event_type).map { case (t, es) =>
          val regs = Array.fill(4 * 256)(0L)
          es.foreach { e =>
            (0 until 4).foreach { r =>
              val hex = md.digest(s"cms:$r:${e.user_id}".getBytes("UTF-8"))
                .map("%02x".format(_)).mkString
              val h = java.lang.Long.parseLong(hex.substring(0, 8), 16)
              regs(r * 256 + (h % 256).toInt) += 1L
            }
          }
          val f2 = (0 until 4).map { r =>
            (0 until 256).map(b => regs(r * 256 + b)).map(c => c * c).sum
          }.min
          (t, regs.take(256).sum, regs.count(_ > 0L).toLong, regs.max, f2)
        }.toSet
        assert(fin.toSet == expected)
        assert(expected.nonEmpty)
      } finally query.stop()
    }
  }

  test("mg stream candidates carry the Misra-Gries guarantee and equal a single fold") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val all = graft.core.Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect()
      .sortBy(e => (e.ts.getTime, e.event_id))
    val k = 8
    TestSpark.withRocksDb {
      val input = MemoryStream[Event]
      val query = EventStreams.mgStream(input.toDS(), k)
        .writeStream.format("memory").queryName("mg_stream")
        .outputMode("update").start()
      try {
        // in-order chunks: each batch folds sorted, so the stream result
        // equals ONE fold over the whole ordered sequence
        all.grouped(math.max(1, all.length / 4 + 1)).foreach { chunk =>
          input.addData(chunk.toIndexedSeq: _*)
          query.processAllAvailable()
        }
        val rows = spark.table("mg_stream")
          .as[(String, Long, Array[Long], Array[Long])].collect()
        val fin = rows.groupBy(_._1).map { case (_, rs) => rs.maxBy(_._2) }
        for ((t, n, ids, counts) <- fin) {
          val es = all.filter(_.event_type == t)
          assert(n == es.length.toLong)
          // exact equality with a single fold in the same order
          val m = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
          EventStreams.mgFold(m, k, es.toIndexedSeq)
          val pairs = m.toSeq.sortBy { case (i, c) => (-c, i) }
          assert(ids.toSeq == pairs.map(_._1))
          assert(counts.toSeq == pairs.map(_._2))
          // the order-free guarantee: true count > n/k ⇒ candidate
          val exact = es.groupBy(_.user_id).view.mapValues(_.length.toLong)
          val mustHave = exact.filter(_._2 > n / k).keys.toSet
          assert(mustHave.subsetOf(ids.toSet),
            s"$t: missing ${mustHave -- ids.toSet}")
        }
        assert(fin.nonEmpty)
      } finally query.stop()
    }
  }

  test("reach stream curve equals the q172 batch sketch across a batch split") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val all = graft.core.Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect()
    TestSpark.withRocksDb {
      val input = MemoryStream[Event]
      val query = EventStreams.reachStream(input.toDS())
        .writeStream.format("memory").queryName("reach_stream")
        .outputMode("update").start()
      try {
        // per-day register max-merge is order-free, so the final curve
        // must not depend on the micro-batch split — mid-stream batches
        // emit provisional curves that later batches legitimately revise
        all.grouped(math.max(1, all.length / 4 + 1)).foreach { chunk =>
          input.addData(chunk.toIndexedSeq: _*)
          query.processAllAvailable()
        }
        val rows = spark.table("reach_stream")
          .as[(String, Long, Long, Long, Long, Long)].collect()
        val fin = rows.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
          val last = rs.map(_._6).max
          rs.filter(_._6 == last).toSeq
        }.map(r => (r._1, r._2, r._3, r._4, r._5)).toSet
        val batch = graft.operators.Relational.hllReachCurve(spark, sf)
          .select($"event_type", $"dy", $"v_zero", $"hll_raw", $"hll_est")
          .as[(String, Long, Long, Long, Long)].collect().toSet
        assert(fin == batch)
        assert(batch.nonEmpty)
      } finally query.stop()
    }
  }

  test("transition stream counts aggregate to the q128 batch matrix") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val all = graft.core.Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect()
      .sortBy(e => (e.ts.getTime, e.event_id))
    TestSpark.withRocksDb {
      val input = MemoryStream[Event]
      val query = EventStreams.transitionStream(input.toDS())
        .writeStream.format("memory").queryName("trans_stream")
        .outputMode("update").start()
      try {
        // in-order chunks chain per-user sequences across batches via the
        // stored last event type
        all.grouped(math.max(1, all.length / 4 + 1)).foreach { chunk =>
          input.addData(chunk.toIndexedSeq: _*)
          query.processAllAvailable()
        }
        val rows = spark.table("trans_stream")
          .as[(Long, String, String, Long)].collect()
        // per-(user, from, to) counts are monotone: final value = max
        val fin = rows.groupBy(r => (r._1, r._2, r._3)).view
          .mapValues(_.map(_._4).max)
        val matrix = fin.toSeq.groupBy { case ((_, f, t), _) => (f, t) }.view
          .mapValues(_.map(_._2).sum).toMap
        val batch = graft.operators.Windowed.eventTransitions(spark, sf)
          .select($"from_type", $"to_type", $"cnt")
          .as[(String, String, Long)].collect()
          .map(r => (r._1, r._2) -> r._3).toMap
        assert(matrix == batch)
        assert(batch.nonEmpty)
      } finally query.stop()
    }
  }

  test("lateness stream matches the q177 batch advisor's exact fields") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val all = graft.core.Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect()
      .sortBy(_.event_id)
    TestSpark.withRocksDb {
      val input = MemoryStream[Event]
      val query = EventStreams.latenessStream(input.toDS())
        .writeStream.format("memory").queryName("late_stream")
        .outputMode("update").start()
      try {
        // in-order chunks replay the batch form's event_id arrival proxy
        all.grouped(math.max(1, all.length / 4 + 1)).foreach { chunk =>
          input.addData(chunk.toIndexedSeq: _*)
          query.processAllAvailable()
        }
        val rows = spark.table("late_stream")
          .as[(String, Long, Long, Long, Long, Long)].collect()
        val fin = rows.groupBy(_._1).map { case (_, rs) => rs.maxBy(_._2) }
          .map(r => r._1 -> r).toMap
        val batch = graft.operators.Windowed.watermarkAdvisor(spark, sf)
          .as[(String, Long, Long, Long, Long, Long, Long)].collect()
        assert(batch.nonEmpty)
        batch.foreach { case (t, n, ooo, oooQ6, _, p99, mx) =>
          val s = fin(t)
          assert(s._2 == n && s._3 == ooo && s._5 == mx, s"$t exact fields")
          assert(s._4 == ooo * 1000000L / n, s"$t ooo ratio")
          // the histogram p99 bound brackets the exact p99 (factor-2 bins)
          assert(s._6 >= p99, s"$t p99 bound $p99 vs bin hi ${s._6}")
        }
      } finally query.stop()
    }
  }

  test("histogram streams reject a degenerate range loudly") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Event]
    intercept[IllegalArgumentException] {
      EventStreams.histogramStream(input.toDS(), 5.0, 5.0)
    }
    intercept[IllegalArgumentException] {
      EventStreams.histogramStream(input.toDS(), 7.0, 2.0)
    }
  }

  test("snapshot diff stream classification aggregates to the q190 batch rows") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val all = graft.core.Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect()
    def micros(e: Event): Long =
      e.ts.getTime * 1000L + (e.ts.getNanos / 1000L) % 1000L
    val t1 = all.map(micros).max - 30L * 86400L * 1000000L
    def latest(rows: Array[Event]): Map[(Long, String), Double] =
      rows.groupBy(e => (e.user_id, e.event_type)).view
        .mapValues(_.maxBy(e => (micros(e), e.event_id)).value).toMap
    val s1 = latest(all.filter(micros(_) <= t1))
    val tail = all.filter(micros(_) > t1)
    assert(tail.nonEmpty, "fixture has a post-T1 tail")
    TestSpark.withRocksDb {
      val input = MemoryStream[Event]
      val snap = s1.toSeq.map { case ((u, tp), v) =>
        EventStreams.SnapInit(u, tp, v) }.toDS()
      val query = EventStreams.snapshotDiffStream(input.toDS(), snap)
        .writeStream.format("memory").queryName("snap_diff")
        .outputMode("update").start()
      try {
        // arbitrary micro-batching: the MAX fold makes the final
        // classification independent of the split
        tail.grouped(math.max(1, tail.length / 3 + 1)).foreach { chunk =>
          input.addData(chunk.toIndexedSeq: _*)
          query.processAllAvailable()
        }
        val emitted = spark.table("snap_diff")
          .as[(Long, String, String, Double)].collect()
        // last emission per key wins; keys with no tail events are
        // silently unchanged — add them back like the batch form sees
        val finalByKey = emitted.zipWithIndex
          .groupBy(r => (r._1._1, r._1._2)).view
          .mapValues(_.maxBy(_._2)._1._3).toMap
        val silent = s1.keySet -- finalByKey.keySet
        val counts = (finalByKey.toSeq.map { case ((_, tp), st) => (tp, st) } ++
            silent.toSeq.map { case (_, tp) => (tp, "unchanged") })
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        val batch = graft.operators.Relational.snapshotDiff(spark, sf)
          .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect()
        batch.foreach { case (tp, added, changed, unchanged, _, _, _, _) =>
          assert(counts.getOrElse((tp, "added"), 0L) == added, s"$tp added")
          assert(counts.getOrElse((tp, "changed"), 0L) == changed, s"$tp changed")
          assert(counts.getOrElse((tp, "unchanged"), 0L) == unchanged,
            s"$tp unchanged")
        }
        assert(batch.nonEmpty)
      } finally query.stop()
    }
  }

  test("equi-depth stream bins equal the q191 batch histogram across a batch split") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val all = graft.core.Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect()
    TestSpark.withRocksDb {
      val input = MemoryStream[Event]
      val query = EventStreams.equiDepthStream(input.toDS())
        .writeStream.format("memory").queryName("depth_stream")
        .outputMode("update").start()
      try {
        // the state folds by count ADDITION over the distinct-value
        // table, so the final bins must not depend on the split; ties
        // all carry one value, so bin (count, lo, hi) is well-defined
        // even when a bin boundary cuts a tie group
        all.grouped(math.max(1, all.length / 4 + 1)).foreach { chunk =>
          input.addData(chunk.toIndexedSeq: _*)
          query.processAllAvailable()
        }
        val rows = spark.table("depth_stream")
          .as[(String, Long, Long, Double, Double, Long)].collect()
        val fin = rows.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
          val last = rs.map(_._6).max
          rs.filter(_._6 == last).toSeq
        }.map(r => (r._1, r._2, r._3, r._4, r._5)).toSet
        val batch = graft.operators.Relational.equiDepthHist(spark, sf)
          .as[(String, Long, Long, Double, Double)].collect().toSet
        assert(fin == batch)
        assert(batch.nonEmpty)
      } finally query.stop()
    }
  }

  test("compaction stream plan equals the q193 batch next-fit across a batch split") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val all = graft.core.Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect()
    TestSpark.withRocksDb {
      val input = MemoryStream[Event]
      val query = EventStreams.compactionStream(input.toDS())
        .writeStream.format("memory").queryName("compact_stream")
        .outputMode("update").start()
      try {
        // the (day → count) state adds across batches; each emission
        // re-runs the day-ordered next-fit, so a late row for an early
        // day revises later days' packing — the final plan must equal
        // the batch fold over the whole log, whatever the split
        all.grouped(math.max(1, all.length / 4 + 1)).foreach { chunk =>
          input.addData(chunk.toIndexedSeq: _*)
          query.processAllAvailable()
        }
        val rows = spark.table("compact_stream")
          .as[(String, Long, Long, Long, Long, Long, Long)].collect()
        val fin = rows.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
          val last = rs.map(_._7).max
          rs.filter(_._7 == last).toSeq
        }.map(r => (r._1, r._2, r._3, r._4, r._5, r._6)).toSet
        val batch = graft.operators.Sharding.compactionPlan(spark, sf)
          .as[(String, Long, Long, Long, Long, Long)].collect().toSet
        assert(fin == batch)
        assert(batch.nonEmpty)
      } finally query.stop()
    }
  }

  test("chained register→overlap streams equal the q196 batch estimates") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val all = graft.core.Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect()
    TestSpark.withRocksDb {
      // stage 1: the per-type register merge, emitting registers
      val input = MemoryStream[Event]
      val q1 = EventStreams.hllRegisterStream(input.toDS())
        .writeStream.format("memory").queryName("regs_stream")
        .outputMode("update").start()
      // stage 2: constant-key set algebra over the register rows —
      // chained through the memory table the way production would hop
      // through a topic
      val regsIn = MemoryStream[EventStreams.HllRegsRow]
      val q2 = EventStreams.hllOverlapStream(regsIn.toDS())
        .writeStream.format("memory").queryName("overlap_stream")
        .outputMode("update").start()
      try {
        all.grouped(math.max(1, all.length / 3 + 1)).foreach { chunk =>
          input.addData(chunk.toIndexedSeq: _*)
          q1.processAllAvailable()
          val emitted = spark.table("regs_stream")
            .as[EventStreams.HllRegsRow].collect()
          regsIn.addData(emitted.toIndexedSeq: _*)
          q2.processAllAvailable()
        }
        val rows = spark.table("overlap_stream")
          .as[(String, String, Long, Long, Long, Long, Long)].collect()
        // the last emission per pair is the final estimate (overlap rows
        // carry no stamp; dedupe by keeping the LAST occurrence in
        // arrival order — the memory sink appends in batch order)
        val fin = rows.zipWithIndex.groupBy(r => (r._1._1, r._1._2))
          .map { case (_, rs) => rs.maxBy(_._2)._1 }.toSet
        val batch = graft.operators.Relational.hllOverlap(spark, sf)
          .select($"type_a", $"type_b", $"est_a", $"est_b", $"est_union",
            $"est_inter", $"jaccard_q6")
          .as[(String, String, Long, Long, Long, Long, Long)].collect().toSet
        assert(fin == batch)
        assert(batch.nonEmpty)
      } finally { q1.stop(); q2.stop() }
    }
  }
  test("sliding actives stream equals the q201 batch sketch columns across a batch split") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val all = graft.core.Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect()
    TestSpark.withRocksDb {
      val input = MemoryStream[Event]
      val query = EventStreams.slidingActivesStream(input.toDS())
        .writeStream.format("memory").queryName("sliding_stream")
        .outputMode("update").start()
      try {
        // register max-merge per day, window merge at emission: the
        // final grid must not depend on the split, and late rows for
        // an early day revise every window containing it
        all.grouped(math.max(1, all.length / 4 + 1)).foreach { chunk =>
          input.addData(chunk.toIndexedSeq: _*)
          query.processAllAvailable()
        }
        val rows = spark.table("sliding_stream")
          .as[(Long, Long, Long, Long, Long, Long)].collect()
        val last = rows.map(_._6).max
        val fin = rows.filter(_._6 == last)
          .map(r => (r._1, r._2, r._3, r._4, r._5)).toSet
        val batch = graft.operators.Relational.slidingActives(spark, sf)
          .select($"dy", $"n_days", $"v_zero", $"hll_raw", $"hll_est")
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        assert(fin == batch)
        assert(batch.nonEmpty)
      } finally query.stop()
    }
  }

  test("chained window->top-k streams equal the q214 batch trending") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val all = graft.core.Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().sortBy(_.ts.getTime)
    // a far-future sentinel advances the watermark past every real
    // hour's close; its own (still-open) hour never emits
    val sentinel = Event(-1L,
      new java.sql.Timestamp(all.last.ts.getTime + 3L * 3600 * 1000),
      -1L, "zz_sentinel", 0.0)
    TestSpark.withRocksDb {
      val input = MemoryStream[Event]
      val q1 = EventStreams.hourlyTypeCounts(input.toDS())
        .writeStream.format("memory").queryName("hourly_counts")
        .outputMode("append").start()
      val hopIn = MemoryStream[EventStreams.HourTypeCount]
      val q2 = EventStreams.trendingStream(hopIn.toDS())
        .writeStream.format("memory").queryName("trend_stream")
        .outputMode("update").start()
      try {
        (all :+ sentinel).grouped(all.length / 3 + 1).foreach { chunk =>
          input.addData(chunk.toIndexedSeq: _*)
          q1.processAllAvailable()
          // hop re-ships the WHOLE emitted table each round — stage 2's
          // replace-by-type fold makes replays no-ops (the q196 law)
          val emitted = spark.table("hourly_counts")
            .as[EventStreams.HourTypeCount].collect()
          hopIn.addData(emitted.toIndexedSeq: _*)
          q2.processAllAvailable()
        }
        val rows = spark.table("trend_stream")
          .as[EventStreams.TrendRow].collect()
        val fin = rows.groupBy(_.hour_us).toSeq.flatMap { case (_, rs) =>
          val last = rs.map(_.state_n).max
          rs.filter(_.state_n == last).toSeq
        }.map(r => (r.hour_us, r.event_type, r.cnt, r.rnk)).toSet
        val batch = graft.operators.Relational.trendingTypes(spark, sf)
          .as[(java.sql.Timestamp, String, Long, Int)].collect()
          .map { case (h, t, c, r) => (h.getTime * 1000L, t, c, r) }.toSet
        assert(fin == batch,
          "final per-hour emissions must equal the batch trending table")
        assert(batch.nonEmpty)
      } finally { q1.stop(); q2.stop() }
    }
  }

  test("cusum stream locates the q246 batch break across an arbitrary batch split") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val all = graft.core.Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect()
    TestSpark.withRocksDb {
      val input = MemoryStream[Event]
      val query = EventStreams.cusumStream(input.toDS())
        .writeStream.format("memory").queryName("cusum_stream")
        .outputMode("update").start()
      try {
        all.grouped(all.length / 3 + 1).foreach { chunk =>
          input.addData(chunk.toIndexedSeq: _*)
          query.processAllAvailable()
        }
        val fin = spark.table("cusum_stream")
          .as[EventStreams.CusumRow].collect()
          .groupBy(_.event_type).values.map(_.maxBy(_.state_n))
          .map(r => (r.event_type, r.n_days, r.n_events,
            r.break_dy, r.cusum_dev, r.rate_before_q3, r.rate_after_q3))
          .toSet
        val batch = graft.operators.Windowed.cusumChangePoint(spark, sf)
          .as[(String, Long, Long, java.sql.Date, Long, Long, Long)]
          .collect()
          .map(r => (r._1, r._2, r._3, r._4.toLocalDate.toEpochDay,
            r._5, r._6, r._7))
          .toSet
        assert(fin == batch,
          "final cusum emissions must equal the q246 batch break table")
        assert(batch.nonEmpty)
      } finally query.stop()
    }
  }

  test("burstiness stream sufficient statistics assemble the q234 batch rows") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    def micros(e: Event): Long =
      e.ts.getTime * 1000L + (e.ts.getNanos / 1000L) % 1000L
    val all = graft.core.Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().sortBy(e => (micros(e), e.event_id))
    TestSpark.withRocksDb {
      val input = MemoryStream[Event]
      val query = EventStreams.burstinessStream(input.toDS())
        .writeStream.format("memory").queryName("burst_stream")
        .outputMode("update").start()
      try {
        all.grouped(all.length / 3 + 1).foreach { chunk =>
          input.addData(chunk.toIndexedSeq: _*)
          query.processAllAvailable()
        }
        val fin = spark.table("burst_stream")
          .as[EventStreams.GapRow].collect()
          .groupBy(r => (r.user_id, r.event_type)).values
          .map(_.maxBy(_.n_gaps)).toSeq
        // the additive sufficient statistic assembles the per-type B
        val assembled = fin.groupBy(_.event_type).map { case (t, ks) =>
          val n = ks.map(_.n_gaps).sum
          val sg = ks.map(r => BigInt(r.sg)).sum
          val sgg = ks.map(r => BigInt(r.sggStr)).sum
          val dd = BigInt(n) * sgg - sg * sg
          val b = if (n > 1 && sg > 0)
            (math.sqrt(dd.toDouble) - sg.toDouble) /
              (math.sqrt(dd.toDouble) + sg.toDouble)
          else 0.0
          (t, ks.size.toLong, n, sg.toDouble / n.toDouble, b)
        }.toSet
        val batch = graft.operators.Windowed.burstiness(spark, sf)
          .as[(String, Long, Long, Double, Double)].collect().toSet
        assert(assembled == batch,
          "assembled gap statistics must equal the q234 batch audit")
        assert(batch.nonEmpty)
      } finally query.stop()
    }
  }

  test("decayed leaderboard stream: final emissions equal the q227 batch table") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val all = graft.core.Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().sortBy(_.ts.getTime)
    // sentinel 3 days past the newest event: its watermark closes every
    // real DAY window; its own (still-open) day never reaches stage 2
    val sentinel = Event(-1L,
      new java.sql.Timestamp(all.last.ts.getTime + 3L * 86400 * 1000),
      -1L, "zz_sentinel", 0.0)
    TestSpark.withRocksDb {
      val input = MemoryStream[Event]
      val q1 = EventStreams.dailyTypeCounts(input.toDS())
        .writeStream.format("memory").queryName("daily_counts")
        .outputMode("append").start()
      val hopIn = MemoryStream[EventStreams.DayTypeCount]
      val q2 = EventStreams.decayedLeaderboardStream(hopIn.toDS())
        .writeStream.format("memory").queryName("decay_stream")
        .outputMode("update").start()
      try {
        (all :+ sentinel).grouped(all.length / 3 + 1).foreach { chunk =>
          input.addData(chunk.toIndexedSeq: _*)
          q1.processAllAvailable()
          // whole-table re-ship: append rows are exactly-once per
          // (day, type) and stage 2 REPLACES cells, so replays are
          // no-ops (the q196 convention)
          val emitted = spark.table("daily_counts")
            .as[EventStreams.DayTypeCount].collect()
          hopIn.addData(emitted.toIndexedSeq: _*)
          q2.processAllAvailable()
        }
        val rows = spark.table("decay_stream")
          .as[EventStreams.DecayRow].collect()
        val lastN = rows.map(_.state_n).max
        val fin = rows.filter(_.state_n == lastN)
          .map(r => (r.event_type, r.raw_cnt, r.decayed_q3,
            r.rank_raw, r.rank_decayed)).toSet
        val batch = graft.operators.Windowed.decayedLeaderboard(spark, sf)
          .as[(String, Long, Long, Long, Long)].collect().toSet
        assert(fin == batch,
          "final leaderboard emissions must equal the q227 batch table")
        assert(batch.nonEmpty)
      } finally { q1.stop(); q2.stop() }
    }
  }

  test("valueDriftStream: assembled final week histograms equal the q178 batch PSI rows") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val nBins = 16
    // stage 1 applied batch-side: same week/value projection either way
    val wv = graft.core.Tables.events(spark, sf)
      .select(org.apache.spark.sql.functions
        .expr("(unix_micros(ts) div 1000000L) div 604800L")
        .as("week_id"), $"value")
      .as[EventStreams.WeekValue].collect().sortBy(_.week_id)
    // range fixed a priori (the q129 convention) — here set to the
    // fixture's true bounds so the law can compare against the batch,
    // which derives the same bounds from its own pre-scan
    val lo = wv.map(_.value).min
    val hi = wv.map(_.value).max
    TestSpark.withRocksDb {
      val input = MemoryStream[EventStreams.WeekValue]
      val query = EventStreams.valueDriftStream(input.toDS(), lo, hi, nBins)
        .writeStream.format("memory").queryName("drift_stream")
        .outputMode("update").start()
      try {
        wv.grouped(math.max(1, wv.length / 3 + 1)).foreach { chunk =>
          input.addData(chunk.toIndexedSeq: _*)
          query.processAllAvailable()
        }
        val fin = spark.table("drift_stream")
          .as[EventStreams.WeekHistRow].collect()
          .groupBy(_.week_id).values.map(_.maxBy(_.n)).toSeq
        // the stateless PSI-vs-base-week assembly the batch ends with:
        // add-one smoothing, identical (p−q)·ln(p/q) 1e6-quantized chain
        val w0 = fin.map(_.week_id).min
        val base = fin.find(_.week_id == w0).get
        val got = fin.map { w =>
          val termq = (0 until nBins).map { b =>
            val pw = (w.bins(b) + 1L).toDouble / (w.n + nBins.toLong).toDouble
            val pb = (base.bins(b) + 1L).toDouble /
              (base.n + nBins.toLong).toDouble
            BigDecimal((pw - pb) * math.log(pw / pb) * 1e6)
              .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
          }.sum
          (w.week_id, w.n, termq, termq.toDouble / 1e6,
            termq.toDouble / 1e6 > 0.2)
        }.toSet
        val batch = graft.operators.Windowed.valueDrift(spark, sf)
          .as[(Long, Long, Long, Double, Boolean)].collect().toSet
        assert(got == batch,
          "assembled final week histograms must equal the q178 batch rows")
        assert(batch.nonEmpty)
      } finally query.stop()
    }
  }

  // both RocksDB checkpoint modes: full snapshots (default) and Spark
  // 4's changelog checkpointing — the mode a production stream runs,
  // where each commit uploads a delta and recovery REPLAYS changelogs
  // onto the last snapshot; a state bug that full snapshots mask
  // (e.g. non-idempotent replay) surfaces only here
  for ((ckptLabel, changelog) <- Seq(("full-snapshot", false), ("changelog", true)))
  test(s"histogram twin RESTART [$ckptLabel]: kill mid-stream, resume from checkpoint, resumed-final == batch") {
    import spark.implicits._
    // exactly-once for the transformWithState sketch family, rehearsed
    // for real: a file source + RocksDB checkpoint, the query KILLED
    // after half the feed, resumed as a new query over the same
    // checkpointLocation — the resumed emissions must already carry the
    // pre-kill state (a reset state would emit part-2-only counts)
    val changelogKey =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    TestSpark.withRocksDb {
      spark.conf.set(changelogKey, changelog.toString)
      val base = java.nio.file.Files.createTempDirectory("graft_q129_restart_").toString
      val (inDir, ckpt) = (s"$base/in", s"$base/ckpt")
      new java.io.File(inDir).mkdirs()
      val (lo, hi) = (0.0, 100.0)
      val rnd = new scala.util.Random(17)
      val all = Seq.tabulate(300) { i =>
        Event(i.toLong, new Timestamp(1700000000000L + i * 1000L),
          (i % 7).toLong, s"t${i % 3}", rnd.nextDouble() * 120.0 - 10.0)
      }
      def addFile(n: Int, rows: Seq[Event]): Unit = {
        val stage = s"$base/stage$n"
        rows.toDS().coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(s"$inDir/batch$n.parquet"))
      }
      // foreachBatch: the recoverable sink (memory sink refuses checkpoint
      // recovery); each leg collects its own emissions
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[
        (String, Long, Long, Long)]()
      def start() = EventStreams.histogramStream(
          spark.readStream
            .schema(org.apache.spark.sql.Encoders.product[Event].schema)
            .parquet(inDir).as[Event], lo, hi)
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .foreachBatch {
          (ds: org.apache.spark.sql.Dataset[EventStreams.HistRow], _: Long) =>
            ds.collect().foreach(r =>
              buf.add((r.event_type, r.n, r.filled_bins, r.max_bin_cnt)))
        }
        .start()
      try {
        addFile(1, all.take(180))
        val q1 = start()
        q1.processAllAvailable(); q1.stop() // the kill
        buf.clear() // only resumed emissions count
        addFile(2, all.drop(180)) // round-robin types: every key re-emits
        val q2 = start()
        try {
          q2.processAllAvailable()
          import scala.jdk.CollectionConverters._
          val fin = buf.asScala.toSeq
            .groupBy(_._1).map { case (_, rs) => rs.maxBy(_._2) }.toSet
          val expected = all.groupBy(_.event_type).map { case (t, es) =>
            val bins = Array.fill(64)(0L)
            es.foreach { e =>
              val b = math.min(63, math.max(0,
                math.floor((e.value - lo) / (hi - lo) * 64).toInt))
              bins(b) += 1
            }
            (t, es.length.toLong, bins.count(_ > 0L).toLong, bins.max)
          }.toSet
          assert(fin == expected,
            "resumed-final histograms must equal the batch fold over the WHOLE feed")
          // and each resumed n covers part 1 — state recovered, not reset
          fin.foreach { case (t, n, _, _) =>
            assert(n > all.drop(180).count(_.event_type == t).toLong,
              s"$t: resumed count $n must include pre-kill rows")
          }
        } finally q2.stop()
      } finally spark.conf.unset(changelogKey)
    }
  }

  test("stateful folds order same-MILLISECOND events at microsecond resolution") {
    // regression: the fold sorts used Timestamp.getTime (millis), so two
    // events in one millisecond with micros order OPPOSITE to event_id
    // order folded in the wrong sequence — divergent from the batch
    // (full-resolution ts, event_id) order. MG distinguishes: k=1 over
    // [u5, u7, u7] ends {7:1}; the wrong (millis, id) order [u7, u5, u7]
    // ends {7:2}.
    def mk(ms: Long, us: Int, id: Long, u: Long): Event = {
      val t = new Timestamp(ms)
      t.setNanos((((ms % 1000L) * 1000000L) + us * 1000L).toInt)
      Event(id, t, u, "t", 0.0)
    }
    val evs = Seq(
      mk(1700000000123L, 456, 9L, 5L),  // first by micros, later by id
      mk(1700000000123L, 999, 3L, 7L),  // second by micros, first by id
      mk(1700000001123L, 0, 10L, 7L))
    val m = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
    EventStreams.mgFold(m, 1, evs)
    assert(m.toMap == Map(7L -> 1L),
      s"micros-order fold must end {7 -> 1}, got $m")
    // and the micros helper itself: getTime millis + sub-ms remainder
    assert(EventStreams.tsMicros(evs.head.ts) === 1700000000123456L)
  }

  test("transition twin orders same-millisecond events like the batch form") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def mk(ms: Long, us: Int, id: Long, tpe: String): Event = {
      val t = new Timestamp(ms)
      t.setNanos((((ms % 1000L) * 1000000L) + us * 1000L).toInt)
      Event(id, t, 7L, tpe, 0.0)
    }
    TestSpark.withRocksDb {
      val input = MemoryStream[Event]
      val query = EventStreams.transitionStream(input.toDS())
        .writeStream.format("memory").queryName("ev_trans_us")
        .outputMode("update").start()
      try {
        // A at micros .456 (event_id 9), B at micros .999 (event_id 3):
        // full-resolution order is A -> B; a millis sort would emit B -> A
        input.addData(
          mk(1700000000123L, 456, 9L, "A"),
          mk(1700000000123L, 999, 3L, "B"))
        query.processAllAvailable()
        val rows = spark.table("ev_trans_us")
          .select($"from_type", $"to_type", $"cnt")
          .as[(String, String, Long)].collect().toSet
        assert(rows == Set(("A", "B", 1L)),
          s"same-millisecond events must order by micros then id: $rows")
      } finally query.stop()
    }
  }

  for ((ckptLabel, changelog) <- Seq(("full-snapshot", false), ("changelog", true)))
  test(s"attribution join RESTART [$ckptLabel]: pre-kill click joins a post-resume purchase") {
    import spark.implicits._
    // the sharpest join-state recovery law: the click arrives BEFORE
    // the kill, the matching purchase arrives only AFTER the resume —
    // the joined row can exist ONLY if the click-side join buffer was
    // recovered from the checkpoint (a reset buffer emits nothing for
    // purchase 10). Completes the restart rehearsal family: sketch
    // state (q129), ValueState (q244), and now stream-stream join
    // buffers — the three state classes the engine ships. Run under
    // both RocksDB checkpoint modes (see the q129 rehearsal's note).
    val changelogKey =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    TestSpark.withRocksDb {
      spark.conf.set(changelogKey, changelog.toString)
      val base = java.nio.file.Files.createTempDirectory("graft_q97_restart_").toString
      val (cDir, pDir, ckpt) = (s"$base/clicks", s"$base/purch", s"$base/ckpt")
      new java.io.File(cDir).mkdirs(); new java.io.File(pDir).mkdirs()
      def addFile(dir: String, n: Int, rows: Seq[Event]): Unit = {
        val stage = s"$base/stage_${new java.io.File(dir).getName}_$n"
        rows.toDS().coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(s"$dir/batch$n.parquet"))
      }
      val schema = org.apache.spark.sql.Encoders.product[Event].schema
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
      def start() = EventStreams.attributionJoin(
          spark.readStream.schema(schema).parquet(cDir),
          spark.readStream.schema(schema).parquet(pDir))
        .select($"purchase_id", $"click_value")
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .foreachBatch { (ds: org.apache.spark.sql.DataFrame, _: Long) =>
          ds.as[(Long, Double)].collect().foreach(buf.add)
        }
        .start()
      try {
        // part 1: the user-7 click, an unrelated early purchase (gives the
        // purchase side a file), and NO match yet
        addFile(cDir, 1, Seq(Event(1, ts("2024-01-01 09:30:00"), 7, "click", 1.0)))
        addFile(pDir, 1, Seq(Event(5, ts("2024-01-01 08:00:00"), 99, "purchase", 9.0)))
        val q1 = start()
        q1.processAllAvailable(); q1.stop() // the kill
        buf.clear()
        // part 2 (post-resume): the matching purchase inside the 1 h
        // window, plus watermark pushers on both sides
        addFile(pDir, 2, Seq(
          Event(10, ts("2024-01-01 10:00:00"), 7, "purchase", 50.0),
          Event(99, ts("2024-01-01 12:00:00"), 9, "purchase", 0.0)))
        addFile(cDir, 2, Seq(Event(98, ts("2024-01-01 12:00:00"), 9, "click", 0.0)))
        val q2 = start()
        try {
          q2.processAllAvailable()
          import scala.jdk.CollectionConverters._
          val rows = buf.asScala.toSet
          assert(rows.contains((10L, 1.0)),
            s"purchase 10 must join the PRE-KILL click — join buffer not recovered: $rows")
          assert(!rows.exists(_._2 == 9.0),
            "the out-of-window early purchase must not join anything")
        } finally q2.stop()
      } finally spark.conf.unset(changelogKey)
    }
  }
}
