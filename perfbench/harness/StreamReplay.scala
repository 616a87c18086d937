package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.streaming.{EventStreams, TaxiStreams}
import graft.streaming.EventStreams.Event

/** Replays event files through three streaming families.
  *
  * The input files (written by run.py) hold key-shifted copies of the
  * events table in arrival order: each event arrives at its event time plus
  * a seeded per-user delay below the smallest watermark (60 s), so no row
  * is late and every user's events stay in event-time order.
  *
  * Each family drains a fixed backlog under `AvailableNow`, one family at a
  * time. Then all families run an open loop together, fed by a generator
  * thread that moves pre-written files into their watched directories on a
  * fixed schedule. Each phase's emitted rows are checked against the batch
  * twin run on the same input.
  */
final class StreamReplay(spark: SparkSession, tracer: Tracer, a: Map[String, String]) {
  import spark.implicits._
  private val sc = spark.sparkContext
  private val root = a("stream_dir")
  private val work = a("work")
  private val families = a("stream_families").split(",").toSeq
  private val filesPerTrigger = a("stream_files_per_trigger").toInt
  private val intervalMs = a("stream_interval_ms").toLong
  private lazy val schema = spark.read.parquet(s"$root/drain/events.parquet").schema

  private def transform(family: String, df: DataFrame): DataFrame = family match {
    case "sliding_counts" => EventStreams.slidingCounts(df)
    case "transition_tws" => EventStreams.transitionStream(df.as[Event]).toDF()
    case "popular_places" =>
      TaxiStreams.popularPlacesStream(graft.PerfbenchAccess.rides(df), threshold = 3)
  }

  private def mode(family: String) = if (family == "transition_tws") "update" else "append"

  /** The batch twin over the same files, restricted to what the stream
    * can have emitted: windows the final watermark `wmMs` has closed.
    */
  private def expected(family: String, dir: String, wmMs: Long): Set[String] = family match {
    case "sliding_counts" =>
      EventStreams.slidingCounts(spark.read.parquet(s"$dir/events.parquet"))
        .filter(($"w_start" + 3600) * 1000 <= wmMs)
        .collect().map(_.mkString("|")).toSet
    case "popular_places" =>
      TaxiStreams.popularPlaces(graft.PerfbenchAccess.rides(
        spark.read.parquet(s"$dir/events.parquet")), threshold = 3)
        .filter(unix_millis($"windowEnd") <= wmMs)
        .collect().map(_.mkString("|")).toSet
    case "transition_tws" =>
      graft.operators.Windowed.eventTransitions(spark, dir)
        .select($"from_type", $"to_type", $"cnt")
        .collect().map(_.mkString("|")).toSet
  }

  private def emitted(family: String, table: String): Set[String] = {
    val rows = spark.table(table)
    if (family != "transition_tws") rows.collect().map(_.mkString("|")).toSet
    else
      // update mode re-emits a (user, from, to) count as it grows: keep the
      // last, then sum over users as the batch matrix does
      rows.groupBy($"user_id", $"from_type", $"to_type").agg(max($"cnt").as("cnt"))
        .groupBy($"from_type", $"to_type").agg(sum($"cnt").as("cnt"))
        .collect().map(_.mkString("|")).toSet
  }

  private def start(family: String, dir: String, table: String, ck: String,
      trigger: Trigger, parent: Int): (StreamingQuery, Double) = {
    val (df, constructS) = tracer.span(sc, "construct", parent, table) {
      transform(family, spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", filesPerTrigger.toString)
        .parquet(s"$dir/events.parquet"))
    }
    val q = df.writeStream.format("memory").queryName(table)
      .outputMode(mode(family)).option("checkpointLocation", ck)
      .trigger(trigger).start()
    (q, constructS)
  }

  private def epochMs(p: StreamingQueryProgress): Long = Instant.parse(p.timestamp).toEpochMilli

  private def batchRecord(family: String, phase: String, p: StreamingQueryProgress): Json.Raw = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
    val st = p.stateOperators.toSeq
    val ev = p.eventTime.asScala.toMap
    val wm = ev.get("watermark").map(Instant.parse(_).toEpochMilli)
    val maxEv = ev.get("max").map(Instant.parse(_).toEpochMilli)
    val startMs = epochMs(p)
    val endMs = startMs + d.getOrElse("triggerExecution", 0L)
    val id = tracer.record("batch", 0, s"$family/$phase/${p.batchId}",
      startMs * 1000000L, endMs * 1000000L)
    Json.Raw(Json.obj(
      "family" -> family, "phase" -> phase, "batch" -> p.batchId,
      "start_ms" -> startMs, "end_ms" -> endMs, "input_rows" -> p.numInputRows,
      "duration_ms" -> d,
      "state_rows" -> st.map(_.numRowsTotal).sum,
      "state_bytes" -> st.map(_.memoryUsedBytes).sum,
      "late_rows" -> st.map(_.numRowsDroppedByWatermark).sum,
      "watermark_ms" -> wm, "max_event_ms" -> maxEv, "span" -> id))
  }

  private def files(dir: String): Seq[Path] =
    Files.list(Paths.get(s"$dir/events.parquet")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.getFileName.toString)

  /** file name → the source log offset that listed it, from the source's
    * checkpoint log. No-data batches advance the batch id but not this
    * offset.
    */
  private def fileOffsets(ck: String): Map[String, Long] = {
    val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r
    Files.list(Paths.get(s"$ck/sources/0")).iterator().asScala.toSeq
      .filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(f => Files.readAllLines(f, java.nio.charset.StandardCharsets.ISO_8859_1).asScala)
      .flatMap(l => entry.findFirstMatchIn(l))
      .map(m => Paths.get(new java.net.URI(m.group(1))).getFileName.toString -> m.group(2).toLong)
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).min }
  }

  private def check(family: String, phase: String, dir: String, table: String,
      progress: Seq[StreamingQueryProgress]): String = {
    val wm = progress.flatMap(p => Option(p.eventTime.get("watermark")))
      .map(Instant.parse(_).toEpochMilli).maxOption.getOrElse(Long.MinValue)
    val got = emitted(family, table)
    val want = expected(family, dir, wm)
    if (got == want && want.nonEmpty) null
    else s"$family/$phase: emitted ${got.size} rows, batch twin ${want.size}, " +
      s"${(got -- want).size} unexpected, ${(want -- got).size} missing"
  }

  def run(): Seq[(String, Any)] = {
    var batches = Vector.empty[Json.Raw]
    var phases = Vector.empty[Json.Raw]
    var errors = Vector.empty[String]
    val persisted0 = sc.getPersistentRDDs.size
    val seq = new java.util.concurrent.atomic.AtomicInteger(0)
    def ck(name: String) = s"$work/ck/$name-${seq.incrementAndGet()}"

    // warm-up: each family once over a small backlog
    val (_, warmS) = tracer.span(sc, "warm", 0, "warm") {
      families.foreach { f =>
        val t = s"warm_$f"
        val (q, _) = start(f, s"$root/warm", t, ck(t), Trigger.AvailableNow(), 0)
        q.awaitTermination()
      }
    }

    families.foreach { f =>
      // drain: the whole backlog under AvailableNow; the stream's thread
      // inherits the phase span's job tag
      val dt = s"drain_$f"
      val did = tracer.newId()
      val ((q, constructS), wall) = tracer.span(sc, "phase", 0, dt, did) {
        val r = start(f, s"$root/drain", dt, ck(dt), Trigger.AvailableNow(), did)
        r._1.awaitTermination()
        r
      }
      val dp = q.recentProgress.toSeq
      batches ++= dp.map(batchRecord(f, "drain", _))
      Option(check(f, "drain", s"$root/drain", dt, dp)).foreach(errors :+= _)
      phases :+= Json.Raw(Json.obj("family" -> f, "phase" -> "drain", "wall_s" -> wall,
        "construct_s" -> constructS, "input_rows" -> dp.map(_.numInputRows).sum))
    }

    // open loop: all families run at once, as streaming queries of one
    // application do; the generator moves one staged file per interval into
    // every family's watched directory, and each file is due at its
    // scheduled time
    val staged = files(s"$root/open")
    val totalRows = spark.read.parquet(s"$root/open/events.parquet").count()
    val open = families.map { f =>
      val ot = s"open_$f"
      val watch = s"$work/watch_$f"
      Files.createDirectories(Paths.get(s"$watch/events.parquet"))
      val octk = ck(ot)
      val oid = tracer.newId()
      val ((oq, oConstructS), _) = tracer.span(sc, "phase", 0, ot, oid) {
        start(f, watch, ot, octk, Trigger.ProcessingTime(0L), oid)
      }
      (f, ot, watch, octk, oq, oConstructS)
    }
    def consumed(q: StreamingQuery) = q.recentProgress.map(_.numInputRows).sum
    // the file source reads a directory's files in modification-time
    // order at millisecond resolution, so each directory's times must
    // strictly increase or two files published within one millisecond tie
    val lastMs = scala.collection.mutable.Map.empty[String, Long]
    def publish(src: Path, watch: String): Unit = {
      val name = src.getFileName.toString
      val tmp = Paths.get(s"$watch/events.parquet/.$name")
      Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
      val ms = math.max(System.currentTimeMillis(), lastMs.getOrElse(watch, 0L) + 1)
      lastMs(watch) = ms
      Files.setLastModifiedTime(tmp, FileTime.fromMillis(ms))
      Files.move(tmp, Paths.get(s"$watch/events.parquet/$name"), StandardCopyOption.ATOMIC_MOVE)
    }
    val deadline = System.nanoTime() + 60L * 1000000000L
    def awaitRows(n: Long): Unit = open.foreach { case (_, _, _, _, oq, _) =>
      while (consumed(oq) < n && System.nanoTime() < deadline && oq.isActive)
        Thread.sleep(5)
    }
    // the first file primes every query (its first batch pays the query's
    // start-up) and is not scheduled; the rest are
    val primeRows = spark.read.parquet(staged.head.toString).count()
    open.foreach(o => publish(staged.head, o._3))
    awaitRows(primeRows)
    // family k receives file i at base + (i + k / families) × interval, so
    // the families' batches do not all start at the same instant
    val scheduled = staged.tail
    val dueMs = Array.ofDim[Long](open.size, scheduled.size)
    val movedMs = Array.ofDim[Long](open.size, scheduled.size)
    val slots = (for (i <- scheduled.indices; k <- open.indices) yield (i, k))
    val gen = new Thread(() => {
      val base = System.currentTimeMillis() + intervalMs
      slots.foreach { case (i, k) =>
        dueMs(k)(i) = base + (i * open.size + k) * intervalMs / open.size
        val wait = dueMs(k)(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        publish(scheduled(i), open(k)._3)
        movedMs(k)(i) = System.currentTimeMillis()
      }
    }, "perfbench-generator")
    val ot0 = System.nanoTime()
    gen.start()
    gen.join()
    awaitRows(totalRows)
    val owall = (System.nanoTime() - ot0) / 1e9
    open.zipWithIndex.foreach { case ((f, ot, _, octk, oq, oConstructS), k) =>
      oq.processAllAvailable()
      oq.stop()
      val op = oq.recentProgress.toSeq
      batches ++= op.filter(_.numInputRows > 0).map(batchRecord(f, "open", _))
      if (consumed(oq) < totalRows) errors :+= s"$f/open: consumed ${consumed(oq)} of $totalRows rows"
      Option(check(f, "open", s"$root/open", ot, op)).foreach(errors :+= _)
      // source log offset → end of the batch that read it: a batch reads
      // the offsets in (its start offset, its end offset]
      val logOffset = """"logOffset":(\d+)""".r
      def offset(json: String) =
        Option(json).flatMap(logOffset.findFirstMatchIn).map(_.group(1).toLong)
      val ends = op.filter(_.numInputRows > 0).flatMap { p =>
        val src = p.sources.head
        val end = epochMs(p) + p.durationMs.get("triggerExecution").longValue()
        (offset(src.startOffset).getOrElse(-1L) + 1 to offset(src.endOffset).getOrElse(-1L))
          .map(_ -> (p.batchId, end))
      }.toMap
      val byOffset = fileOffsets(octk)
      val fileRecs = scheduled.zipWithIndex.map { case (src, i) =>
        val b = byOffset.get(src.getFileName.toString).flatMap(ends.get)
        Json.Raw(Json.obj("due_ms" -> dueMs(k)(i), "moved_ms" -> movedMs(k)(i),
          "batch" -> b.map(_._1), "end_ms" -> b.map(_._2)))
      }
      phases :+= Json.Raw(Json.obj("family" -> f, "phase" -> "open", "wall_s" -> owall,
        "construct_s" -> oConstructS, "input_rows" -> totalRows,
        "interval_ms" -> intervalMs, "files" -> fileRecs))
    }
    Seq("warm_s" -> warmS, "batches" -> batches, "phases" -> phases, "errors" -> errors,
      "cores" -> sc.defaultParallelism,
      "core" -> Map(
        "persisted_rdds_before" -> persisted0, "persisted_rdds" -> sc.getPersistentRDDs.size,
        "storage_mb" -> sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6,
        "memo_entries" -> graft.PerfbenchAccess.memoEntries(spark)))
  }
}
