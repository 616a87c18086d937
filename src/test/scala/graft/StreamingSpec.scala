package graft

import java.sql.Timestamp

import org.apache.commons.math3.stat.regression.SimpleRegression
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.TaxiRide
import graft.functions.Geo
import graft.streaming.{Replay, TaxiStreams}

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def ts(s: String): Timestamp = Timestamp.valueOf(s)
  val placeholder = ts("1970-01-01 00:00:00")

  /** 25 START events in one grid cell within 4 minutes (popularity
    * cluster per FIXTURES.md), plus 5 ENDs (below threshold) and 3
    * out-of-NYC rides (cleansing fodder).
    */
  def popularRides: Seq[TaxiRide] = {
    val starts = (1 to 25).map { i =>
      TaxiRide(i, isStart = true, ts(f"2013-01-01 00:0${i % 4}:${10 + i}"),
        placeholder, -73.98f, 40.75f, -73.90f, 40.80f, 1)
    }
    val ends = (1 to 5).map { i =>
      TaxiRide(100 + i, isStart = false, ts("2013-01-01 00:00:00"),
        ts(f"2013-01-01 00:0${i % 4}:30"), -73.90f, 40.80f, -73.98f, 40.75f, 1)
    }
    val outside = (1 to 3).map { i =>
      TaxiRide(200 + i, isStart = true, ts("2013-01-01 00:02:00"),
        placeholder, -75.0f, 39.0f, -75.0f, 39.0f, 1)
    }
    starts ++ ends ++ outside
  }

  def withEventTime(rides: Seq[TaxiRide]) = {
    import spark.implicits._
    rides.toDS().withColumn("eventTime",
      when($"isStart", $"startTime").otherwise($"endTime"))
  }

  test("PopularPlaces batch mode: 25-ride cluster crosses threshold in 3 sliding windows") {
    import spark.implicits._
    val out = TaxiStreams.popularPlaces(withEventTime(popularRides), threshold = 20)
      .as[(Float, Float, Timestamp, Boolean, Long)].collect()
    assert(out.length == 3) // 15min/5min windows covering 00:00-00:04
    assert(out.forall(_._5 == 25))
    assert(out.forall(_._4)) // only START side crosses
    val cell = Geo.mapToGridCell(-73.98f, 40.75f)
    assert(out.forall(r => r._1 == Geo.cellCenterLon(cell) && r._2 == Geo.cellCenterLat(cell)))
  }

  test("PopularPlaces streaming: windows fire when the watermark passes (W1/W2)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[TaxiRide]
    val streamed = input.toDS().toDF().withColumn("eventTime",
      when($"isStart", $"startTime").otherwise($"endTime"))
    val query = TaxiStreams.popularPlacesStream(streamed, threshold = 20)
      .writeStream.format("memory").queryName("popular").outputMode("append").start()
    try {
      // bounded out-of-order replay, like TaxiRideSource (S1)
      input.addData(Replay.withBoundedDelay(popularRides, maxDelaySecs = 60, seed = 42L): _*)
      query.processAllAvailable()
      // watermark still at cluster time − 60 s → nothing final yet
      assert(spark.table("popular").count() == 0)
      // probe ride far in the future pushes the watermark past window ends
      input.addData(TaxiRide(999, isStart = true, ts("2013-01-01 02:00:00"),
        placeholder, -73.98f, 40.75f, -73.9f, 40.8f, 1))
      query.processAllAvailable()
      assert(spark.table("popular").count() == 3)
      assert(spark.table("popular").select("cnt").as[Long].collect().forall(_ == 25))
      // runtime plumbing the batch projection (q47) can't pin: the window
      // aggregate runs against versioned state with watermark-driven GC
      val plan = TestSpark.streamingPlan(query)
      assert(plan.contains("StateStoreSave"), plan)
      assert(plan.contains("EventTimeWatermark"), plan)
    } finally query.stop()
  }

  test("TravelTimePrediction: -1 before training, slope*distance after (W4/W5)") {
    import spark.implicits._
    // same route twice: END trains the model, later START gets predicted
    val rides = Seq(
      TaxiRide(1, isStart = true, ts("2013-01-01 00:00:00"), placeholder,
        -73.98f, 40.75f, -73.90f, 40.80f, 1),
      TaxiRide(1, isStart = false, ts("2013-01-01 00:00:00"), ts("2013-01-01 00:10:00"),
        -73.98f, 40.75f, -73.90f, 40.80f, 1),
      TaxiRide(2, isStart = true, ts("2013-01-01 00:15:00"), placeholder,
        -73.98f, 40.75f, -73.90f, 40.80f, 1))
    val out = TaxiStreams.travelTimePrediction(rides.toDS())
      .collect().map(p => p.rideId -> p.predictedTime).toMap
    assert(out(1L) == -1) // untrained bucket → -1 sentinel
    // one (distance, 10min) point through origin → prediction == 10
    assert(out(2L) == 10)
  }

  test("TravelTimePrediction streaming: same predictions from a MemoryStream") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val rides = Seq(
      TaxiRide(1, isStart = true, ts("2013-01-01 00:00:00"), placeholder,
        -73.98f, 40.75f, -73.90f, 40.80f, 1),
      TaxiRide(1, isStart = false, ts("2013-01-01 00:00:00"), ts("2013-01-01 00:10:00"),
        -73.98f, 40.75f, -73.90f, 40.80f, 1),
      TaxiRide(2, isStart = true, ts("2013-01-01 00:15:00"), placeholder,
        -73.98f, 40.75f, -73.90f, 40.80f, 1))
    val input = MemoryStream[TaxiRide]
    val query = TaxiStreams.travelTimePrediction(input.toDS())
      .writeStream.format("memory").queryName("stream_pred").outputMode("append").start()
    try {
      input.addData(rides: _*)
      query.processAllAvailable()
      val out = spark.table("stream_pred").as[(Long, Int)].collect().toMap
      assert(out(1L) == -1 && out(2L) == 10)
      val plan = TestSpark.streamingPlan(query)
      assert(plan.contains("FlatMapGroupsWithState"), plan)
    } finally query.stop()
  }

  test("RegSums == commons-math SimpleRegression(false) (oracle, SURVEY §5.1)") {
    val points = Seq((1.0, 2.1), (2.0, 3.9), (3.0, 6.2), (4.5, 9.1), (0.5, 0.9))
    val oracle = new SimpleRegression(false)
    var sums = TaxiStreams.RegSums(0, 0.0, 0.0)
    points.foreach { case (x, y) => oracle.addData(x, y); sums = sums.add(x, y) }
    for (x <- Seq(0.5, 1.7, 3.3, 10.0)) {
      assert(math.abs(sums.predict(x) - oracle.predict(x)) < 1e-12,
        s"predict($x): ${sums.predict(x)} vs ${oracle.predict(x)}")
    }
    // untrained → NaN → -1 sentinel path
    assert(TaxiStreams.RegSums(0, 0.0, 0.0).predict(1.0).isNaN)
  }

  test("checkpointed restart resumes exactly-once (S2/W6)") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    val (inDir, outDir, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    new java.io.File(inDir).mkdirs()

    def writeBatch(name: String, rides: Seq[TaxiRide]): Unit = {
      val f = new java.io.File(s"$inDir/$name")
      val w = new java.io.PrintWriter(f)
      rides.foreach(r => w.println(r.toCsvString))
      w.close()
    }
    def startQuery() = {
      val rides = graft.sources.TaxiSource.streamRides(spark, inDir)
      TaxiStreams.cleanse(rides)
        .select($"rideId", $"isStart", $"eventTime")
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
    }

    writeBatch("part1.csv", popularRides.take(10))
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    // restart from the same checkpoint with new data arrived
    writeBatch("part2.csv", popularRides.slice(10, 25))
    val q2 = startQuery()
    q2.processAllAvailable(); q2.stop()

    val out = spark.read.parquet(outDir).select("rideId").as[Long].collect()
    // every NYC ride exactly once — no replays of part1, no gaps
    assert(out.sorted.toSeq == (1L to 25L), out.sorted.toSeq)
  }

  test("Replay: bounded delay keeps out-of-orderness within the bound (S1)") {
    val rides = popularRides.sortBy(_.eventTime.getTime)
    val replayed = Replay.withBoundedDelay(rides, maxDelaySecs = 60, seed = 7L)
    assert(replayed.toSet == rides.toSet)
    // every event arrives at most 60s after any earlier-arriving later event
    val times = replayed.map(_.eventTime.getTime)
    for (i <- times.indices; j <- i + 1 until times.length) {
      assert(times(i) - times(j) <= 60000L, s"out-of-orderness exceeds bound at $i,$j")
    }
  }
}
