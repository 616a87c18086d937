package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession shared by all suites (tests fork a single JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // the streaming-memory rehearsal leg (SCALING.md): re-run the
    // stateful suites — restart rehearsals and merged≡batch laws
    // included — with RocksDB under a BOUNDED block-cache/memtable
    // budget and (via SPARK_DRIVER_MEM) a small heap, e.g.
    //   SPARK_DRIVER_MEM=3g GRAFT_ROCKSDB_BOUNDED_MB=100 sbt \
    //     "testOnly graft.StreamingSpec graft.EventStreamsSpec graft.CurationStreamSpec"
    // state-store memory pressure must degrade to disk (RocksDB
    // spills by design), never to OOM or a drifted answer
    sys.env.get("GRAFT_ROCKSDB_BOUNDED_MB").foreach { mb =>
      b.config("spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage",
        "true")
      b.config("spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB", mb)
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `body` under the RocksDB state store provider — the one every
    * `transformWithState` operator needs (multi-column-family state) —
    * and restore the session's previous provider afterwards.
    */
  def withRocksDb[A](body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  /** The physical plan of a streaming query's latest micro-batch, as a
    * string — for plan-shape assertions on the streaming RUNTIME (state
    * store operators, watermark plumbing) that batch projections can't
    * pin. Call after processAllAvailable().
    */
  def streamingPlan(query: org.apache.spark.sql.streaming.StreamingQuery): String = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8"))(query.explain())
    buf.toString("UTF-8")
  }
}
