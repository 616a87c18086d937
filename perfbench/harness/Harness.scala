package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed query: construction, planning and the digest action. */
final case class Sample(query: String, startS: Double,
    constructS: Double, planS: Double, actionS: Double, digest: String,
    error: String, spanId: Int) {
  def json: String = Json.obj("query" -> query,
    "start_s" -> startS, "construct_s" -> constructS, "plan_s" -> planS,
    "action_s" -> actionS, "digest" -> digest, "error" -> error, "span" -> spanId)
}

/** The benchmark's JVM side. It drives the engine only through
  * `SparkEntry.queries`, `queryExecution.executedPlan`, an all-column
  * digest action and the streaming transforms, times each call, and
  * writes every raw sample to a JSON file that run.py turns into metrics.
  *
  * Arguments: key=value pairs — workload, seed, seconds, trace (0|1),
  * data (table directory), work (scratch directory), out (result file),
  * queries (comma-separated, construct_heavy),
  * sessions (session starts to time), stream_* (stream_replay settings).
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val workload = a("workload")
    val trace = a("trace") == "1"
    val work = a("work")
    val loadStart = os.loadAverage()
    val warn = WarnCounter.install()
    val tracer = new Tracer(trace)

    // set-up: start the session several times and time each start; the
    // last session is the one the workload uses
    val cores = Runtime.getRuntime.availableProcessors()
    var spark: SparkSession = null
    val sessionS = (1 to a("sessions").toInt).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      // the first job pays executor and codegen start-up in every session
      spark.range(1).count()
      (System.nanoTime() - t0) / 1e9
    }
    val listener = if (trace) {
      val l = new WorkListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    val sc = spark.sparkContext

    val body: Seq[(String, Any)] = workload match {
      case "stream_replay" => new StreamReplay(spark, tracer, a).run()
      case _ => new BatchLoop(spark, tracer, a).run()
    }

    listener.foreach(_ => org.apache.spark.PerfbenchBus.drain(sc))
    val spans = tracer.spans.asScala.toSeq.sortBy(_.id)
    val work0 = listener.map(_.snapshot()).getOrElse(Map.empty)
    val out = Seq[(String, Any)](
      "context" -> Map(
        "workload" -> workload, "seed" -> a("seed"), "trace" -> trace,
        "nproc" -> cores, "heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
        "master" -> sc.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "spark_version" -> spark.version, "data" -> a("data"),
        "loadavg_start" -> loadStart, "loadavg_end" -> os.loadAverage()),
      "session_s" -> sessionS,
      "log_warn_lines" -> warn.count.get(),
      "spans" -> spans.map(s => Json.Raw(Json.obj("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "group" -> s.group, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs))),
      "work" -> work0.map { case (k, w) => k.toString -> Json.Raw(w.json) }
    ) ++ body
    spark.stop()
    Files.writeString(Paths.get(a("out")), Json.obj(out: _*))
  }

  private object os {
    def loadAverage(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
  }
}

/** One closed-loop client over a fixed query list. */
final class BatchLoop(spark: SparkSession, tracer: Tracer, a: Map[String, String]) {
  private val sc = spark.sparkContext
  private val data = a("data")
  private val queries = a("queries").split(",").toSeq
  private val fns = queries.map(q => q -> graft.SparkEntry.queries(q)).toMap
  private var t0 = System.nanoTime()

  private def runQuery(q: String): Sample = {
    val qid = tracer.newId()
    val start = (System.nanoTime() - t0) / 1e9
    var c, p, x = 0.0
    try {
      tracer.span(sc, "query", 0, s"q$qid", qid) {
        val (df, cs) = tracer.span(sc, "construct", qid, s"q$qid")(fns(q)(spark, data))
        c = cs
        p = tracer.span(sc, "plan", qid, s"q$qid")(df.queryExecution.executedPlan)._2
        val (d, xs) = tracer.span(sc, "action", qid, s"q$qid")(Digest.of(df))
        x = xs
        Sample(q, start, c, p, x, d, null, qid)
      }._1
    } catch {
      case e: Throwable =>
        Sample(q, start, c, p, x, null,
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}", qid)
    }
  }

  private def persisted(): Int = sc.getPersistentRDDs.size
  private def storageMb(): Double =
    sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6
  private def memoEntries(): Int = graft.PerfbenchAccess.memoEntries(spark)

  def run(): Seq[(String, Any)] = {
    val rng = new scala.util.Random(a("seed").toLong)
    // warm-up: one pass of the workload's queries, which fills the memos
    // they touch
    t0 = System.nanoTime()
    val (warmSamples, warmS) = tracer.span(sc, "warm", 0, "warm") {
      rng.shuffle(queries).map(runQuery)
    }
    val before = (persisted(), storageMb())

    // timed phase: passes over the list, each in a fresh seeded order, and
    // no new pass after `seconds`, so every run measures whole passes: the
    // same multiset of queries
    val samples = Vector.newBuilder[Sample]
    t0 = System.nanoTime()
    val deadline = t0 + (a("seconds").toDouble * 1e9).toLong
    while (System.nanoTime() < deadline)
      rng.shuffle(queries).foreach(q => samples += runQuery(q))
    val wall = (System.nanoTime() - t0) / 1e9
    val all = samples.result()
    Seq(
      "warm_s" -> warmS,
      "warm_samples" -> warmSamples.map(s => Json.Raw(s.json)),
      "timed_wall_s" -> wall,
      "cores" -> sc.defaultParallelism,
      "queries" -> queries,
      "samples" -> all.map(s => Json.Raw(s.json)),
      "core" -> Map(
        "persisted_rdds_before" -> before._1, "storage_mb_before" -> before._2,
        "persisted_rdds" -> persisted(), "storage_mb" -> storageMb(),
        "memo_entries" -> memoEntries(),
        "passes" -> all.size.toDouble / queries.size))
  }
}
