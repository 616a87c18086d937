package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming THROUGHPUT evidence (round 14): every streaming twin has a
  * state≡batch correctness law, but until this tool nothing measured
  * sustained rows/s through the streaming runtime itself. StreamBench
  * replays a ×`factor` replication of the sf events table through a
  * FILE-SOURCE stream (micro-batched via maxFilesPerTrigger, i.e. the
  * real incremental-execution path — not one degenerate mega-batch) into
  * a noop sink under Trigger.AvailableNow, and reports rows/s per
  * transform family:
  *
  *   - passthrough        — the source+sink floor (what the runtime
  *                          itself costs before any operator)
  *   - sliding_counts     — watermarked sliding-window agg (q10 twin)
  *   - dedup_watermark    — dropDuplicatesWithinWatermark (q09 twin)
  *   - session_window     — merging session-window agg (q41 twin)
  *   - hll_tws            — `hllSketchStream`, the transformWithState
  *                          HLL sketch (q127 twin, RocksDB state store;
  *                          the `_tws` labels stay so recorded results
  *                          remain comparable)
  *   - cms_tws            — `cmsStream`, the transformWithState CMS
  *                          sketch (q162 twin)
  *   - transition_tws     — transformWithState Markov transitions
  *                          (q128 twin; keyed by user — the high-
  *                          cardinality state shape)
  *   - popular_places     — the reference's flagship taxi pipeline
  *                          (ride projection → cleanse → grid cell →
  *                          sliding count → threshold, q47 twin)
  *
  * Replication key-shifts event_id/user_id per copy (the ScaleSweep
  * convention) so dedup state and per-user session/transition state see
  * `factor`× distinct keys, not `factor` re-deliveries of one key set.
  * Events keep their timestamps: each micro-batch spans the full event-
  * time range, so watermarks advance and windowed state is emitted and
  * evicted while the stream runs — the steady-state regime, not an
  * everything-buffered one.
  *
  * Usage: `sbt "runMain graft.tools.StreamBench [src] [factor] [files]"`
  * (defaults: sf0.1, 20× ≈ 2M rows, 32 input files → 4 micro-batches of
  * 8 files under the default maxFilesPerTrigger=8).
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val pos = args.filterNot(_.startsWith("--"))
    val src = pos.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = pos.lift(1).map(_.toInt).getOrElse(20)
    val nFiles = pos.lift(2).map(_.toInt).getOrElse(32)
    // --bounded[=MB]: the streaming-memory rehearsal leg — cap RocksDB's
    // block cache + memtables at a fixed budget (default 100 MB across
    // all state-store instances), the cluster deployment's bounded-
    // memory mode; combine with SPARK_DRIVER_MEM=3g for the constrained
    // heap. The law: throughput degrades gracefully (RocksDB spills to
    // its SST files by design) and no family OOMs.
    // reject unknown --flags loudly (the MemSweep rule): a typo'd
    // --bounded would otherwise run the UNBOUNDED leg while the round
    // log records a bounded-memory rehearsal
    args.filter(_.startsWith("--"))
      .filterNot(f => f == "--bounded" || f.startsWith("--bounded="))
      .foreach(f => sys.error(
        s"unknown flag $f\nusage: StreamBench [src] [factor] [files] [--bounded[=MB]]"))
    val boundedMb = args.find(_.startsWith("--bounded")).map { f =>
      if (!f.contains("=")) "100"
      else f.split("=").lift(1).filter(_.nonEmpty).getOrElse(
        sys.error(s"empty value in $f — use --bounded=<MB> or bare --bounded"))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val root = "/tmp/graft_streambench"
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
    boundedMb.foreach { mb =>
      builder.config(
        "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage", "true")
      builder.config(
        "spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB", mb)
      println(s"rocksdb bounded memory: ${mb} MB across all state stores, " +
        s"heap ${Runtime.getRuntime.maxMemory() / (1024 * 1024)} MiB")
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    import graft.streaming.EventStreams
    import graft.streaming.EventStreams.Event

    // ---- input: factor key-shifted copies, nFiles parquet files ----
    val stride = 100000000L
    val base = graft.core.Tables.events(spark, src)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
    val input = s"$root/input"
    (0 until factor).map { k =>
      base.withColumn("event_id", $"event_id" + lit(k * stride))
        .withColumn("user_id", $"user_id" + lit(k * stride))
    }.reduce(_ unionByName _)
      .repartition(nFiles).write.mode("overwrite").parquet(input)
    val totalRows = spark.read.parquet(input).count()
    println(s"input: $totalRows rows in $nFiles files ($factor x $src)")

    def stream(): DataFrame = spark.readStream
      .schema(spark.read.parquet(input).schema)
      .option("maxFilesPerTrigger", 8)
      .parquet(input)

    def run(name: String, mode: String)(f: DataFrame => DataFrame): Unit = {
      val ck = s"$root/ck_$name"
      def rm(x: java.io.File): Unit = {
        if (x.isDirectory) Option(x.listFiles()).foreach(_.foreach(rm))
        x.delete(): Unit
      }
      rm(new java.io.File(ck))
      val t0 = System.nanoTime()
      val q = f(stream()).writeStream.format("noop").outputMode(mode)
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"| $name%-16s | $secs%7.2f s | ${totalRows / secs}%,12.0f rows/s |")
    }

    println("| transform | wall | throughput |")
    println("|---|---|---|")
    run("passthrough", "append")(df => df)
    run("sliding_counts", "append")(df => EventStreams.slidingCounts(df))
    run("dedup_watermark", "append")(df => EventStreams.dedupStream(df))
    run("session_window", "append")(df => EventStreams.sessionStream(df))
    run("hll_tws", "update")(df =>
      EventStreams.hllSketchStream(df.as[Event]).toDF())
    run("hll_partials", "update")(df =>
      EventStreams.hllSketchStreamPartials(df.as[Event]).toDF())
    run("cms_tws", "update")(df =>
      EventStreams.cmsStream(df.as[Event]).toDF())
    run("cms_partials", "update")(df =>
      EventStreams.cmsStreamPartials(df.as[Event]).toDF())
    run("transition_tws", "update")(df =>
      EventStreams.transitionStream(df.as[Event]).toDF())
    // the reference's flagship pipeline: ride projection → cleanse →
    // grid cell → sliding window count → threshold → cell centers
    run("popular_places", "append")(df =>
      graft.streaming.TaxiStreams.popularPlacesStream(
        graft.operators.StreamProjections.ridesProjection(df), threshold = 3))

    def rmAll(x: java.io.File): Unit = {
      if (x.isDirectory) Option(x.listFiles()).foreach(_.foreach(rmAll))
      x.delete(): Unit
    }
    rmAll(new java.io.File(root))
    spark.stop()
  }
}
