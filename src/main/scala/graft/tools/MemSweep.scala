package graft.tools

import org.apache.spark.sql.SparkSession

import graft.core.Profile

/** Constrained-memory rehearsal: the top-10 heavies on the 10× fixture
  * under a deliberately SMALL heap must degrade by SPILLING — never by
  * OOM, and never by a changed answer. Memory-pressure behavior is the
  * #1 operational difference between the sf0.1 gate and a 100 TB
  * cluster: executors there run with a FIXED memory slice per task
  * slot, and an operator that needs the whole working set resident
  * (instead of spill-merging through UnsafeExternalSorter /
  * MEMORY_AND_DISK cache eviction) dies precisely when the data
  * outgrows the slice. The round-14 ScaleSweep adjudicated q109's
  * in-sweep variance as cache re-fill under heap pressure; this tool
  * turns that one-off adjudication into a rehearsed, assertable law.
  *
  * The JVM heap is fixed at fork time (build.sbt reads
  * SPARK_DRIVER_MEM into -Xmx), so the two legs are two invocations:
  *
  * {{{
  * SPARK_DRIVER_MEM=8g sbt "runMain graft.tools.MemSweep /root/testdata/sf0.1 10 --write /tmp/memsweep_ref.json"
  * SPARK_DRIVER_MEM=3g sbt "runMain graft.tools.MemSweep /root/testdata/sf0.1 10 --check /tmp/memsweep_ref.json"
  * }}}
  *
  * `--write` records each heavy's canonical digest (InvarianceSweep's
  * column-sorted/row-sorted multiset, sha-256'd), row count, wall time
  * and spill bytes; `--check` re-runs under the constrained heap and
  * exits non-zero if any query throws (OOM included) or its digest
  * drifts. Spill columns are the per-query sums of task
  * memoryBytesSpilled/diskBytesSpilled — nonzero spill on the small
  * heap with green digests is exactly the evidence the law wants:
  * pressure ENGAGED and the answers did not move.
  *
  * The fixture is ScaleSweep's key-shifted replication, shared at
  * /tmp/graft_scale<factor> and left in place (ScaleSweep --keep
  * convention) so both legs read identical bytes.
  */
object MemSweep {

  private def digest(rows: Vector[String]): String = CanonDigest.of(rows)

  private val usage =
    "usage: MemSweep <srcDir> <factor> (--write|--check) <json> [query...]"

  def main(args: Array[String]): Unit = {
    // STRICT fixed positions, exactly as the usage string reads. The
    // earlier scan-for-positionals form silently bound a trailing query
    // name as srcDir when the dir/factor were omitted, and dropped any
    // positional that happened to equal the json path — both are the
    // "silently running a sweep the operator did not intend" failure
    // this parser exists to reject (round-15 ADVICE).
    if (args.length < 4) sys.error(usage)
    val src = args(0)
    if (src.startsWith("--")) sys.error(usage)
    val factor =
      try args(1).toInt
      catch { case _: NumberFormatException => sys.error(usage) }
    val mode = args(2)
    if (mode != "--write" && mode != "--check") sys.error(usage)
    val jsonPath = args(3)
    val named = args.drop(4)
    // any --flag past the mode slot is a typo or a wrong analogy
    // (ScaleSweep's --keep, say) — reject it loudly
    named.find(_.startsWith("--"))
      .foreach(f => sys.error(s"unknown flag $f\n$usage"))
    val queries = if (named.nonEmpty) named.toSeq else ScaleSweep.heavies
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val heap = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    val fixture = s"/tmp/graft_scale$factor"

    // --check preconditions, asserted BEFORE the expensive run: the law
    // is only rehearsed if this leg actually has LESS memory than the
    // reference and reads the same-factor fixture. A forgotten
    // SPARK_DRIVER_MEM would otherwise exit 0 as a vacuous green (same
    // heap ⇒ digests trivially match, no pressure engaged); the write
    // leg records heap_mib and factor for exactly this assertion.
    val refContent: Option[String] =
      if (mode != "--check") None
      else Some(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(jsonPath)), java.nio.charset.StandardCharsets.UTF_8))
    refContent.foreach { ref =>
      def refLong(field: String): Option[Long] = {
        val m = java.util.regex.Pattern
          .compile("\"" + field + "\":(\\d+)").matcher(ref)
        if (m.find()) Some(m.group(1).toLong) else None
      }
      refLong("heap_mib").filter(heap >= _).foreach(rh =>
        sys.error(s"--check heap ${heap}MiB is not below the reference's " +
          s"${rh}MiB — set SPARK_DRIVER_MEM lower than the --write leg; " +
          "a same-or-larger heap rehearses no memory pressure"))
      refLong("factor").filter(_ != factor.toLong).foreach(rf =>
        sys.error(s"--check factor $factor does not match the reference's " +
          s"$rf — the digests would compare different fixtures"))
    }

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus * factor)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    ScaleSweep.ensureFixture(spark, src, fixture, factor)

    // warm the declared builds like the bench/scale legs — under the
    // constrained heap the builds themselves are part of the rehearsal
    graft.Builds.warm(spark, fixture).failures.foreach { case (name, e) =>
      println(s"BUILD FAIL $name: ${e.getMessage}") }

    println(s"| query | secs | rows | spillMemMiB | spillDiskMiB | digest |")
    println(s"|---|---|---|---|---|---|")
    val results = queries.map { name =>
      val ((r, secs), work) = Profile.span(spark) {
        val t0 = System.nanoTime()
        val r = try {
          val rows = InvarianceSweep.canon(
            graft.SparkEntry.queries(name)(spark, fixture))
          Right((rows.size, digest(rows)))
        } catch { case scala.util.control.NonFatal(e) =>
          Left(e.getClass.getSimpleName + ": " +
            String.valueOf(e.getMessage).linesIterator.take(2).mkString(" | "))
        }
        (r, (System.nanoTime() - t0) / 1e9)
      }
      val sm = work.stages.map(_.memorySpill).sum / (1024 * 1024)
      val sd = work.stages.map(_.diskSpill).sum / (1024 * 1024)
      r match {
        case Right((n, dg)) =>
          println(f"| $name | $secs%.2f | $n%d | $sm%d | $sd%d | ${dg.take(12)} |")
        case Left(err) =>
          println(f"| $name | $secs%.2f | ERR | $sm%d | $sd%d | $err |")
      }
      (name, r, secs, sm, sd)
    }
    spark.stop()

    def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    mode match {
      case "--write" =>
        val body = results.map {
          case (n, Right((rows, dg)), secs, sm, sd) =>
            s"${jstr(n)}:{" + s""""digest":${jstr(dg)},"rows":$rows,"secs":$secs,"spill_mem_mib":$sm,"spill_disk_mib":$sd}"""
          case (n, Left(err), secs, _, _) =>
            s"${jstr(n)}:{" + s""""err":${jstr(err)},"secs":$secs}"""
        }.mkString(",")
        java.nio.file.Files.write(java.nio.file.Paths.get(jsonPath),
          (s"""{"heap_mib":$heap,"factor":$factor,"queries":{$body}}""" + "\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"reference written: $jsonPath (heap ${heap}MiB)")
        val errs = results.count(_._2.isLeft)
        if (errs > 0) sys.exit(math.min(errs, 255))
      case "--check" =>
        val ref = refContent.get
        // per-query extraction from our own fixed-format JSON — a bare
        // containment check would let two queries with the SAME digest
        // (e.g. both empty) mask each other's drift
        def refDigest(name: String): Option[String] = {
          val m = java.util.regex.Pattern
            .compile("\"" + java.util.regex.Pattern.quote(name) +
              "\":\\{\"digest\":\"([0-9a-f]+)\"")
            .matcher(ref)
          if (m.find()) Some(m.group(1)) else None
        }
        var bad = 0
        val totalSpill = results.map(r => r._4 + r._5).sum
        results.foreach {
          case (n, Right((_, dg)), _, _, _) =>
            refDigest(n) match {
              case Some(exp) if exp == dg => ()
              case Some(exp) =>
                bad += 1
                println(s"DIGEST DRIFT $n: got $dg, reference $exp")
              case None =>
                bad += 1
                println(s"NO REFERENCE for $n in $jsonPath (err in ref leg?)")
            }
          case (n, Left(err), _, _, _) =>
            bad += 1
            println(s"FAILED under constrained heap $n: $err")
        }
        println(f"memsweep check: heap ${heap}MiB, ${results.size} queries, " +
          f"$bad bad, total spill ${totalSpill}MiB " +
          f"(nonzero spill + 0 bad = degraded gracefully)")
        sys.exit(math.min(bad, 255))
    }
  }
}
