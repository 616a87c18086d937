package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.core.TaxiRide
import graft.functions.Geo

/** The three DataStream exercises on Structured Streaming (SURVEY §2.6).
  * Each transform is expressed so the SAME code runs on a bounded
  * DataFrame (batch mode, for oracle-style tests) and on a streaming one
  * (`readStream`/MemoryStream) — SURVEY §7.2.2's two-step strategy.
  *
  * Scale: the window aggregation is incremental partial agg + state store
  * (strictly better than the reference's full-window re-iteration,
  * SURVEY §4); the keyed regression state is O(|cells| × 8 sums).
  */
object TaxiStreams {

  /** RideCleansing (datastream_java/basics/RideCleansing.java:53-76):
    * keep rides starting AND ending inside NYC. Column predicate —
    * pushable, codegen'd.
    */
  def cleanse(rides: DataFrame): DataFrame =
    rides.filter(
      Geo.isInNYC(col("startLon"), col("startLat")) &&
        Geo.isInNYC(col("endLon"), col("endLat")))

  /** PopularPlaces (datastream_java/windows/PopularPlaces.java:52-97):
    * cleanse → grid cell per event type (START counts at the start
    * location, END at the end location — the canonical branching
    * GridCellMatcher, SURVEY §7.4.5) → sliding event-time window count →
    * popularity threshold → cell centers.
    *
    * On a streaming input add `.withWatermark("eventTime", "60 seconds")`
    * upstream (W2; 60 s = the reference's bounded out-of-orderness) and
    * run with OutputMode.Append to reproduce fire-at-watermark behavior.
    */
  def popularPlaces(rides: DataFrame, threshold: Long = 20,
      size: String = "15 minutes", slide: String = "5 minutes"): DataFrame = {
    val cell = when(col("isStart"),
      Geo.mapToGridCell(col("startLon"), col("startLat")))
      .otherwise(Geo.mapToGridCell(col("endLon"), col("endLat")))
    cleanse(rides)
      .select(cell.as("cell"), col("isStart"), col("eventTime"))
      .groupBy(window(col("eventTime"), size, slide), col("cell"), col("isStart"))
      .count()
      .filter(col("count") >= threshold)
      .select(
        Geo.cellCenterLon(col("cell")).as("lon"),
        Geo.cellCenterLat(col("cell")).as("lat"),
        col("window.end").as("windowEnd"),
        col("isStart"),
        col("count").as("cnt"))
  }

  /** Streaming PopularPlaces with the reference's 60 s watermark bound. */
  def popularPlacesStream(rides: DataFrame, threshold: Long = 20): DataFrame =
    popularPlaces(rides.withWatermark("eventTime", "60 seconds"), threshold)

  // ---- TravelTimePrediction (datastream_java/state/TravelTimePrediction
  // .java:52-164 + utils/TravelTimePredictionModel.java:33-89) ----

  /** One direction bucket of the no-intercept regression: plain sums —
    * slope = sxy / sxx, exactly SimpleRegression(false) (SURVEY §2.6 W5).
    */
  case class RegSums(n: Long, sxx: Double, sxy: Double) {
    def add(x: Double, y: Double): RegSums = RegSums(n + 1, sxx + x * x, sxy + x * y)
    /** NaN (→ -1 sentinel) while untrained, like SimpleRegression.predict. */
    def predict(x: Double): Double = if (n == 0) Double.NaN else (sxy / sxx) * x
  }

  /** Keyed state: 8 × 45° direction buckets
    * (TravelTimePredictionModel.java:35-45).
    */
  case class PredictionState(buckets: Seq[RegSums])
  object PredictionState {
    val empty: PredictionState = PredictionState(Seq.fill(8)(RegSums(0, 0.0, 0.0)))
  }

  case class Prediction(rideId: Long, predictedTime: Int)

  /** The per-event state transition (PredictionModel.flatMap,
    * TravelTimePrediction.java:124-149): START → predict & emit
    * (rideId, minutes | -1 untrained); END → refine the bucket's sums.
    */
  def applyRide(state: PredictionState, ride: TaxiRide): (PredictionState, Option[Prediction]) = {
    val distance = Geo.euclideanDistance(ride.startLon, ride.startLat, ride.endLon, ride.endLat)
    // note the reference computes direction dest → start (TravelTimePrediction.java:133)
    val direction = Geo.directionAngle(ride.endLon, ride.endLat, ride.startLon, ride.startLat)
    val bucket = direction / 45 // getDirectionBucket (TravelTimePredictionModel.java:84-86)
    if (ride.isStart) {
      val p = state.buckets(bucket).predict(distance)
      val t = if (p.isNaN) -1 else p.toInt
      (state, Some(Prediction(ride.rideId, t)))
    } else {
      val travelTime = (ride.endTime.getTime - ride.startTime.getTime) / 60000.0
      val updated = state.buckets.updated(bucket, state.buckets(bucket).add(distance, travelTime))
      (PredictionState(updated), None)
    }
  }

  /** TravelTimePrediction as flatMapGroupsWithState keyed by destination
    * cell (GridCellMatcher state variant, TravelTimePrediction.java:106-114).
    * Within a micro-batch, events are applied in event-time order (the
    * reference relies on arrival order; event-time order is the
    * deterministic equivalent under replay). Runs on streaming and on
    * bounded Datasets: `apps.TravelTimePrediction` feeds it the bounded
    * `TaxiSource.readRides`, which is why this family stays on
    * `flatMapGroupsWithState` (see the `EventStreams` object doc).
    */
  def travelTimePrediction(rides: Dataset[TaxiRide]): Dataset[Prediction] = {
    import rides.sparkSession.implicits._
    rides
      .filter(r => Geo.isInNYC(r.startLon, r.startLat) && Geo.isInNYC(r.endLon, r.endLat))
      .groupByKey(r => Geo.mapToGridCell(r.endLon, r.endLat))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Int, rides: Iterator[TaxiRide], groupState: GroupState[PredictionState]) =>
          var state = groupState.getOption.getOrElse(PredictionState.empty)
          val out = Seq.newBuilder[Prediction]
          rides.toSeq.sortBy(_.eventTime.getTime).foreach { r =>
            val (s2, p) = applyRide(state, r)
            state = s2
            p.foreach(out += _)
          }
          groupState.update(state)
          out.result().iterator
      }
  }
}
