package graft.tools

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Executed fault-tolerance rehearsal — the promotion of
  * DeterminismSpec's plan-level certificate (zero non-deterministic
  * expressions ⇒ task retries/speculative duplicates commit identical
  * rows) into an OBSERVED law, the way MemSweep promoted the
  * cache-pressure adjudication into a rehearsed one.
  *
  * The drill runs against a REAL standalone cluster it spawns itself:
  * one Master and two Workers as separate JVMs, the workers bound to
  * DISTINCT loopback hosts (127.0.0.2 / 127.0.0.3). Both properties are
  * load-bearing, adjudicated by probe this round:
  *
  *   - a plain `local[n,f]` master cannot rehearse speculation at all
  *     (TaskSchedulerImpl starts the speculation thread only when
  *     `!isLocal`), and
  *   - `local-cluster[2,…]` marks stragglers speculatable but can NEVER
  *     launch the copy: both executors report host `localhost`, and the
  *     scheduler refuses a speculative attempt on any host that already
  *     has one (`dequeueSpeculativeTask`'s same-host exclusion — the
  *     rule that makes speculation useful against sick NODES). Distinct
  *     worker hosts are what makes the rehearsal real.
  *
  * Five legs per heavy, all on the spawned cluster:
  *
  *   - plain:     the uninjected reference digest, same topology; also
  *                asserted ≡ a `local[cpus]` session's digest, so the
  *                drill doubles as a local ≡ real-cluster row-multiset
  *                certificate for the swept heavies.
  *   - retry:     the query wrapped in an identity filter whose UDF
  *                throws ONCE per executor JVM — the first task that
  *                evaluates it fails with ExceptionFailure and
  *                `spark.task.maxFailures=4` absorbs the retry
  *                (possibly on the other executor, whose own first
  *                evaluation throws again — also absorbed). Asserts ≥1
  *                observed task failure (else the rehearsal was
  *                vacuous) and digest ≡ plain.
  *   - speculate: `spark.speculation=true` (100 ms interval) with an
  *                identity filter that SLEEPS 4 s once per executor
  *                JVM, manufacturing the straggler speculation exists
  *                to cover. `spark.speculation.task.duration.threshold`
  *                covers the AQE-coalesced single-task stages a
  *                gate-SF run produces (a 1-task stage has no median to
  *                speculate against). Asserts ≥1 speculative task
  *                LAUNCH and digest ≡ plain — duplicate attempts of a
  *                deterministic plan commit one result.
  *   - exec-loss: a watchdog kills one executor JVM after
  *                `KillAfterTasks` task completions — shuffle files,
  *                cached blocks and
  *                localCheckpoint blocks on it vanish mid-job,
  *                exercising FetchFailed → stage resubmission.
  *                Asserts ≥1 executor removed and digest ≡ plain,
  *                EXCEPT for iterative queries that hold
  *                localCheckpoint state, where Spark's own contract is
  *                that the job fails (lineage deliberately truncated) —
  *                a Left there is recorded as the documented trade-off.
  *   - late-kill: the deployable answer to that trade-off. The same
  *                SIGKILL, fired LATE (half the plain leg's task
  *                count — past several superstep lineage cuts), with
  *                `spark.graft.reliableCheckpointDir` set so every
  *                `Lineage.cut` is a RELIABLE checkpoint into shared
  *                storage instead of a localCheckpoint. Blocks lost
  *                with the executor are re-read from the checkpoint
  *                files, so this leg must PASS (≥1 executor removed,
  *                digest ≡ plain) for EVERY query, iterative family
  *                included — the law the dial exists to buy.
  *
  * Digests are InvarianceSweep.canon (column-sorted, row-sorted
  * multiset) — partitioning- and commit-order-independent by
  * construction, so any drift it reports is real row drift.
  *
  * Usage: `sbt "runMain graft.tools.RetryDrill [srcDir] [query...]"`
  * (default: sf0.01 gate tables × three heavies). Exit code = number of
  * failed assertions.
  */
object RetryDrill {

  /** Task completions before the exec-loss watchdog fires — early
    * enough to land mid-job, late enough for the first shuffle outputs
    * to exist and be worth losing. Single source of truth for the
    * object doc, the leg doc and the watchdog loop.
    */
  private val KillAfterTasks = 30

  /** One-shot fault injectors, class-loaded independently in each
    * executor JVM (statics are per-JVM, which is exactly the shape a
    * real transient fault has: node-local, not plan-global).
    */
  object Faults {
    val thrown = new AtomicBoolean(false)
    val slept  = new AtomicBoolean(false)
    def throwOnce(): Boolean = {
      if (!thrown.getAndSet(true))
        throw new RuntimeException("RetryDrill: injected one-shot task failure")
      true
    }
    def sleepOnce(): Boolean = {
      if (!slept.getAndSet(true)) Thread.sleep(4000)
      true
    }
  }

  private[tools] val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).map(p => s"--add-opens=$p=ALL-UNNAMED")

  private[tools] val masterPort = 17077
  private[tools] val masterUrl = s"spark://127.0.0.1:$masterPort"

  /** Spawn the standalone Master + two Workers on distinct loopback
    * hosts; returns the processes for teardown. The worker env needs
    * SPARK_SCALA_VERSION (normally exported by load-spark-env.sh) so
    * its ExecutorRunner can build the executor command from the dist.
    */
  private[tools] def startCluster(): Seq[Process] = {
    def spawn(cls: String, logName: String, clsArgs: String*): Process = {
      val cmd = (Seq("java") ++ addOpens ++
        Seq("-Xmx1g", "-cp", "/opt/spark/jars/*", cls) ++ clsArgs)
      val pb = new ProcessBuilder(cmd: _*)
      pb.environment().put("SPARK_HOME", "/opt/spark")
      pb.environment().put("SPARK_SCALA_VERSION", "2.13")
      pb.redirectErrorStream(true)
      pb.redirectOutput(new java.io.File(s"/tmp/retrydrill_$logName.log"))
      pb.start()
    }
    val master = spawn("org.apache.spark.deploy.master.Master", "master",
      "--host", "127.0.0.1", "--port", masterPort.toString,
      "--webui-port", "0")
    Thread.sleep(4000)
    val workers = Seq("127.0.0.2", "127.0.0.3").zipWithIndex.map {
      case (host, i) =>
        spawn("org.apache.spark.deploy.worker.Worker", s"worker$i",
          "--host", host, "--cores", "8", "--memory", "5g",
          "--work-dir", s"/tmp/retrydrill_work$i", "--webui-port", "0",
          masterUrl)
    }
    // wait until both workers registered (the first session would
    // otherwise hang waiting for resources with no diagnostic)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    def registered(): Int = {
      val f = new java.io.File("/tmp/retrydrill_master.log")
      if (!f.exists()) 0
      else scala.io.Source.fromFile(f).getLines()
        .count(_.contains("Registering worker"))
    }
    while (registered() < 2 && System.nanoTime() < deadline) Thread.sleep(500)
    require(registered() >= 2,
      "workers did not register with the drill master within 60s — " +
        "see /tmp/retrydrill_{master,worker0,worker1}.log")
    master +: workers
  }

  private[tools] def session(master: String, extra: Map[String, String]): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.executor.memory", "4g")
      .config("spark.task.maxFailures", "4")
      .config("spark.sql.shuffle.partitions", 16)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // executors are fresh JVMs: they need the repo classes and the
      // JDK17 module opens the driver got from build.sbt
      .config("spark.executor.extraClassPath",
        "/root/repo/target/scala-2.13/classes")
      .config("spark.executor.extraJavaOptions", addOpens.mkString(" "))
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Run `mk` in a fresh session, returning (digest-or-error, secs,
    * failed-task count, speculative-task count, removed-executor
    * count, completed-task count). With `killAfter = Some(n)`, a
    * watchdog thread waits for `n` task completions — the exec-loss
    * leg passes `KillAfterTasks` (early enough to land mid-job, late
    * enough for the first shuffle outputs to exist and be worth
    * losing); the late-kill leg passes half the plain leg's task count
    * (past several lineage cuts) — then
    * SIGKILLs one executor JVM directly (see the inline comment for
    * why not `sc.killExecutors`): its shuffle files, cached blocks
    * and localCheckpoint blocks all vanish mid-job, the FetchFailed →
    * stage-resubmission machinery this leg exists to exercise. The
    * watchdog stands down without killing if the leg finishes first —
    * a stale kill would land on the NEXT leg's executors.
    */
  private[tools] def leg(master: String, extra: Map[String, String],
      killAfter: Option[Int] = None)(
      mk: SparkSession => DataFrame): (Either[String, String], Double, Int, Int, Int, Int) = {
    val spark = session(master, extra)
    val failed = new AtomicInteger(0)
    val speculative = new AtomicInteger(0)
    val removed = new AtomicInteger(0)
    val tasksEnded = new AtomicInteger(0)
    val execIds = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskStart(ts: SparkListenerTaskStart): Unit = {
        execIds.put(ts.taskInfo.executorId, true): Unit
        if (ts.taskInfo.speculative) speculative.incrementAndGet(): Unit
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        tasksEnded.incrementAndGet(): Unit
        if (te.reason.isInstanceOf[org.apache.spark.ExceptionFailure])
          failed.incrementAndGet(): Unit
      }
      override def onExecutorRemoved(
          er: org.apache.spark.scheduler.SparkListenerExecutorRemoved): Unit =
        removed.incrementAndGet(): Unit
    })
    val legDone = new AtomicBoolean(false)
    val watchdog = killAfter.map(threshold => new Thread(() => {
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      // the exec-loss leg kills EARLY (KillAfterTasks completions — the
      // first shuffle outputs exist) rather than late: a kill issued
      // near job end can race the final collect and remove the executor
      // only after the answer landed, which the ≥1-removed assertion
      // rightly calls vacuous. The late-kill leg's mid-job threshold
      // (half the plain task count) keeps the same stand-down logic.
      while (tasksEnded.get() < threshold && !legDone.get() &&
          System.nanoTime() < deadline)
        Thread.sleep(50)
      // stand down unless the threshold was genuinely reached while
      // the leg still runs — a kill fired on deadline or after leg
      // completion would SIGKILL an executor of the NEXT leg (the
      // process scan below sees every executor on the box)
      if (tasksEnded.get() >= threshold && !legDone.get()) {
        // SIGKILL the executor JVM directly rather than
        // sc.killExecutors: the RPC route is asynchronous enough that
        // a kill issued mid-job could take effect only after the final
        // collect (observed: removed=0 races on the shorter queries).
        // Process death drops the Netty connection immediately, so the
        // driver registers the loss while the job is still running.
        import scala.jdk.CollectionConverters._
        val victim = ProcessHandle.allProcesses().iterator().asScala.find(p =>
          p.info().commandLine()
            .map[java.lang.Boolean](_.contains("CoarseGrainedExecutorBackend"))
            .orElse(java.lang.Boolean.FALSE))
        victim.foreach { p =>
          println(s"(watchdog: SIGKILL executor pid ${p.pid()} after " +
            s"${tasksEnded.get()} task completions)")
          p.destroyForcibly(): Unit
        }
      }
    }, "retrydrill-executor-killer"))
    watchdog.foreach { t => t.setDaemon(true); t.start() }
    val t0 = System.nanoTime()
    val r = try Right(CanonDigest.of(InvarianceSweep.canon(mk(spark))))
      catch { case scala.util.control.NonFatal(e) =>
        Left(e.getClass.getSimpleName + ": " +
          String.valueOf(e.getMessage).linesIterator.take(2).mkString(" | "))
      }
    val secs = (System.nanoTime() - t0) / 1e9
    legDone.set(true)
    watchdog.foreach(_.join(5000))
    graft.core.Profile.drain(spark)
    val out = (r, secs, failed.get(), speculative.get(), removed.get(),
      tasksEnded.get())
    spark.stop()
    out
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.01")
    val queries =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("q109_prefix_jaccard", "q13_pagerank", "q91_ann_ivf_pq")
    var bad = 0
    def check(ok: Boolean, msg: String): Unit =
      if (!ok) { bad += 1; println(s"FAIL: $msg") }

    val procs = startCluster()
    try {
      println("| query | leg | secs | taskFails | specTasks | digest | law |")
      println("|---|---|---|---|---|---|---|")
      queries.foreach { name =>
        def q(spark: SparkSession) = graft.SparkEntry.queries(name)(spark, src)
        def dg(r: Either[String, String]) = r.fold("ERR " + _, _.take(12))

        val (rLocal, _, _, _, _, _) =
          leg(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")}]", Map())(q)

        val (rPlain, tPlain, _, _, _, plainTasks) = leg(masterUrl, Map())(q)
        check(rPlain.isRight && rPlain == rLocal,
          s"$name: cluster digest $rPlain != local digest $rLocal")
        println(f"| $name | plain | $tPlain%.1f | - | - | ${dg(rPlain)} " +
          f"| ${if (rPlain == rLocal) "=local" else "DRIFT"} |")

        // retry leg: throw once per executor JVM inside an identity
        // filter; asNondeterministic pins it above the scan (no
        // pushdown), so the failure lands where retries re-run real work
        val (rRetry, tRetry, nFail, _, _, _) = leg(masterUrl, Map())(s =>
          q(s).filter(udf(() => Faults.throwOnce()).asNondeterministic()()))
        check(nFail >= 1, s"$name: retry leg observed no task failure -- " +
          "injection did not engage (vacuous)")
        check(rRetry == rPlain,
          s"$name: digest after retried task $rRetry != plain $rPlain")
        println(f"| $name | retry | $tRetry%.1f | $nFail%d | - | " +
          f"${dg(rRetry)} | ${if (rRetry == rPlain && nFail >= 1) "PASS" else "FAIL"} |")

        // speculation leg: one 4 s straggler per executor JVM; the
        // 100 ms speculation interval re-launches it on the OTHER host
        val (rSpec, tSpec, _, nSpec, _, _) = leg(masterUrl, Map(
          "spark.speculation" -> "true",
          "spark.speculation.interval" -> "100ms",
          "spark.speculation.multiplier" -> "1.5",
          "spark.speculation.quantile" -> "0.5",
          // AQE coalesces the tiny gate-SF exchanges down to
          // single-task stages, which have no median to speculate
          // against — the duration threshold is the documented escape
          // hatch for that shape; 1 s sits far under the 4 s straggler
          "spark.speculation.task.duration.threshold" -> "1s"))(s =>
          q(s).filter(udf(() => Faults.sleepOnce()).asNondeterministic()()))
        check(nSpec >= 1, s"$name: speculation leg launched no speculative " +
          "task -- straggler not speculated (vacuous)")
        check(rSpec == rPlain,
          s"$name: digest under speculation $rSpec != plain $rPlain")
        println(f"| $name | speculate | $tSpec%.1f | - | $nSpec%d | " +
          f"${dg(rSpec)} | ${if (rSpec == rPlain && nSpec >= 1) "PASS" else "FAIL"} |")

        // executor-loss leg: kill one executor JVM mid-job — shuffle
        // files, cached blocks and localCheckpoint blocks on it are
        // LOST; the scheduler's FetchFailed → stage-resubmission path
        // must recompute and land the identical digest. Queries whose
        // plans hold localCheckpoint state (the iterative graph family)
        // are EXPECTED to fail here by Spark's own contract —
        // localCheckpoint trades executor-loss recoverability for
        // lineage truncation — so a Left on such a query is recorded as
        // the documented trade-off rather than a drill failure; the
        // digest law is enforced whenever the query completes.
        val usesLocalCk = Set("q13_pagerank", "q86_cc_converged",
          "q112_kcore", "q119_power_iteration")
        val (rKill, tKill, _, _, nRemoved, _) =
          leg(masterUrl, Map(), killAfter = Some(KillAfterTasks))(q)
        check(nRemoved >= 1, s"$name: executor-loss leg removed no " +
          "executor -- kill did not engage (vacuous)")
        rKill match {
          case Right(_) =>
            check(rKill == rPlain,
              s"$name: digest after executor loss $rKill != plain $rPlain")
            println(f"| $name | exec-loss | $tKill%.1f | - | -$nRemoved%d exec | " +
              f"${dg(rKill)} | ${if (rKill == rPlain) "PASS" else "FAIL"} |")
          case Left(err) if usesLocalCk(name) =>
            println(f"| $name | exec-loss | $tKill%.1f | - | -$nRemoved%d exec | " +
              f"localCheckpoint lineage lost ($err) | DOCUMENTED |")
          case Left(err) =>
            check(false, s"$name: failed under executor loss: $err")
            println(f"| $name | exec-loss | $tKill%.1f | - | -$nRemoved%d exec | ERR | FAIL |")
        }

        // late-kill leg: the reliable-checkpoint arm's deployable law.
        // Same SIGKILL, fired past HALF the plain leg's task count —
        // after several lineage cuts for the iterative family — with
        // the dial routing every Lineage.cut to reliable checkpoint
        // files both workers can re-read. MUST pass for every query
        // (no usesLocalCk carve-out): loss-after-checkpoint is routine
        // at 1000 executors, and this arm is what makes the iterative
        // family deployable there.
        val ckDir = s"/tmp/retrydrill_ckpt_$name"
        val lateAt = math.max(KillAfterTasks, plainTasks / 2)
        // documentation row (no assertion): the SAME late kill on the
        // LOCAL arm. For the iterative family the expected outcome is
        // the CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND contract failure —
        // lineage deliberately truncated is lineage unrecoverable —
        // which is exactly the gap the dialed leg below closes. The
        // early-threshold exec-loss leg above can land before the
        // first cut and recover; THIS row is the one that reliably
        // exhibits the trade-off.
        if (usesLocalCk(name)) {
          val (rLateLocal, tLateLocal, _, _, nRemLL, _) =
            leg(masterUrl, Map(), killAfter = Some(lateAt))(q)
          val note = rLateLocal match {
            case Right(_) if rLateLocal == rPlain =>
              "survived (kill raced past the last cut)"
            case Right(_) => "DRIFT"
            case Left(err) => s"localCheckpoint lineage lost ($err)"
          }
          println(f"| $name | late-kill-local@$lateAt%d | $tLateLocal%.1f " +
            f"| - | -$nRemLL%d exec | ${dg(rLateLocal)} | DOCUMENTED: $note |")
        }
        val (rLate, tLate, _, _, nRemovedLate, _) =
          leg(masterUrl, Map(graft.core.Lineage.ConfKey -> ckDir),
            killAfter = Some(lateAt))(q)
        check(nRemovedLate >= 1, s"$name: late-kill leg removed no " +
          "executor -- kill did not engage (vacuous)")
        check(rLate.isRight && rLate == rPlain,
          s"$name: reliable-arm digest after late executor loss $rLate " +
            s"!= plain $rPlain")
        println(f"| $name | late-kill@$lateAt%d | $tLate%.1f | - | " +
          f"-$nRemovedLate%d exec | ${dg(rLate)} | " +
          f"${if (rLate == rPlain && nRemovedLate >= 1) "PASS" else "FAIL"} |")
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(ckDir)): Unit
      }
    } finally {
      procs.reverse.foreach(_.destroyForcibly(): Unit)
    }
    println(s"retrydrill: ${queries.size} queries, $bad failed assertions")
    if (bad > 0) sys.exit(math.min(bad, 255))
  }
}

/** Shared canonical-rows digest (sha-256 over InvarianceSweep.canon's
  * sorted multiset) — the same digest MemSweep records, so drill and
  * sweep evidence are directly comparable.
  */
object CanonDigest {
  def of(rows: Vector[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update(r.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }
}
