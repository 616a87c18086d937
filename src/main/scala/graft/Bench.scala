package graft
import org.apache.spark.sql.SparkSession
/** Times the declared builds, then every SparkEntry query — or, given
  * trailing query names, only those (`runMain graft.Bench q20_topk_orders`).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // UTC like Verify/tests: the NTZ→LTZ normalization in core.Tables
      // is value-preserving only under a UTC session (it was previously
      // inherited from the container TZ here — pin it)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val errors = scala.collection.mutable.ArrayBuffer[String]()
    val only = args.toSet
    // a misspelt name must not pass as a fast, empty run
    errors ++= (only -- SparkEntry.queries.keySet).toSeq.sorted
    // warm the JVM/codegen/scan paths once so the first measured query
    // doesn't absorb session startup (~5s); errors are non-fatal
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // host-drift canary: one fixed cheap scan+agg timed immediately after
    // warmup and again after the last query. A contended host inflates
    // one or both canary legs (the r13 driver leg showed 4-12x drift on
    // individual queries with rc=0) — the pair lets a bench artifact
    // self-identify as untrustworthy without a second adjudication run.
    def canary(): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries("q01_pricing_summary")(spark, sfDir).count()
      catch { case _: Throwable => errors += "canary" }
      (System.nanoTime() - t0) / 1e9
    }
    val canaryFirst = canary()
    // declared warm phase: the shared lineages are timed as builds, so
    // per-query times measure the query itself; a failed build is an error
    val warmed = Builds.warm(spark, sfDir)
    errors ++= warmed.failures.map("build:" + _._1)
    val builds = warmed.secs
    val results = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() }
      catch { case _: Throwable => errors += name }
      name -> (System.nanoTime() - t0) / 1e9
    }
    def jmap(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val canaryLast = canary()
    val buildTotal = builds.map(_._2).sum
    val queryTotal = results.values.sum
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    // "value" stays the TOTAL wall time of all measured work (builds +
    // queries) — the same work previous rounds charged to the queries;
    // the canary legs are reported but NOT added to the total
    val json =
      s"""{"metric":"total","value":${buildTotal + queryTotal},"unit":"sec","builds_total":$buildTotal,"queries_total":$queryTotal,"canary_first":$canaryFirst,"canary_last":$canaryLast,"builds":${jmap(builds)},"errors":$errJson,"queries":${jmap(results)},"sf":"$sfDir"}"""
    println(json)
    // stdout tail-capture truncates long lines (BENCH_r02 lost the totals;
    // BENCH_r13/r14 parsed:null — the driver keeps the TAIL of stdout and
    // the 252-query map splits mid-dict). The file is the whole artifact
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/bench.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(out),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Throwable => () }
    // compact summary LAST — short enough to always survive tail capture
    // whole, so the driver's parsed totals are never null; no per-query
    // map, and errors BOUNDED to a count + 5-name sample (a systemic
    // regression failing most queries would otherwise re-inflate this
    // line past the capture limit in exactly the run that needs it)
    val errSample = errors.take(5).map("\"" + _ + "\"").mkString("[", ",", "]")
    println(
      s"""{"metric":"total","value":${buildTotal + queryTotal},"unit":"sec","builds_total":$buildTotal,"queries_total":$queryTotal,"canary_first":$canaryFirst,"canary_last":$canaryLast,"n_builds":${builds.size},"n_queries":${results.size},"n_errors":${errors.size},"errors_sample":$errSample,"sf":"$sfDir","detail":"$out"}""")
    spark.stop()
    // a crashed query must not look like a fast one (round-11 verdict):
    // the JSON carries the names, the exit code carries the signal
    if (errors.nonEmpty) sys.exit(1)
  }
}
