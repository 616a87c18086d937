package graft.core

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.ContextBridge
import org.apache.spark.storage.StorageLevel

/** The engine's single lineage-cut / pin primitive, behind the
  * `spark.graft.reliableCheckpointDir` dial.
  *
  * Every iterative operator (pagerank supersteps, the connected-
  * components star rounds, the k-core peel, BFS frontiers, label-prop
  * sweeps, random-walk extension) truncates its growing lineage once
  * per round, and every sampling-pinned table (the distributed-rank
  * range partitionings) freezes nondeterministic bytes exactly once.
  * Both default to `localCheckpoint()`: blocks live on the executors
  * that computed them, zero extra I/O — the right arm for a single
  * box and for short jobs.
  *
  * The trade-off localCheckpoint makes is EXECUTOR-LOSS
  * recoverability: the truncated lineage is the only recipe for the
  * blocks, so losing an executor after the cut fails the job
  * (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND — observed and recorded by
  * RetryDrill's late-kill leg). On a 1000-executor cluster, loss
  * after a cut is routine, so deployments set
  *
  *   spark.graft.reliableCheckpointDir=<shared dir (HDFS/S3/NFS)>
  *
  * and every cut becomes a RELIABLE checkpoint: partitions are written
  * to the shared dir and re-read on recompute, so a lost executor
  * costs a re-read instead of the job. Row identity between the arms
  * is pinned by LineageSpec (same rows, same partition count); the
  * late-kill RetryDrill leg must PASS on this arm.
  *
  * Cost shape on the reliable arm: Spark materializes an eager
  * reliable checkpoint with one job and then RE-COMPUTES the plan in
  * the checkpoint-write job — so `cut` persists the input
  * (MEMORY_AND_DISK) for the duration of the checkpoint and unpersists
  * after, making the write pass a cache read instead of a second
  * superstep. Checkpoint files accumulate one directory per cut until
  * the SparkContext stops; long-running deployments additionally set
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` so files of
  * GC'd supersteps are deleted mid-job.
  */
object Lineage {

  val ConfKey = "spark.graft.reliableCheckpointDir"

  /** Base dir already applied per live context — `setCheckpointDir`
    * mints a fresh UUID subdirectory on every call, so it must run
    * once per (context, dial value), not once per cut. Weak keys: a
    * stopped context's entry must not pin it in memory.
    */
  private val applied = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkContext, String]())

  /** A cut frame together with its row count. */
  final class Pin private[Lineage] (val df: DataFrame, count: => Long) {
    lazy val rows: Long = count
  }

  /** Truncate `df`'s lineage (eagerly — the input plan is computed
    * NOW and the result is a checkpoint-backed scan) and count its rows:
    * localCheckpoint by default, reliable `checkpoint()` into the dial's
    * directory when `spark.graft.reliableCheckpointDir` is set and
    * non-empty.
    *
    * On the local arm the checkpoint is marked lazily and its one
    * materializing job is a narrow count over the checkpointed RDD, so
    * the count costs no job of its own. On the reliable arm the eager
    * checkpoint writes the files in one job as before, and `rows` reads
    * them back in a second job only when a caller asks for it. A
    * checkpoint with no partitions (an AQE-coalesced empty shuffle, say)
    * holds 0 rows and runs no count job.
    */
  def counted(df: DataFrame): Pin = {
    val spark = df.sparkSession
    spark.conf.getOption(ConfKey).map(_.trim).filter(_.nonEmpty) match {
      case None =>
        val cp = df.localCheckpoint(eager = false)
        val n = rowsOf(cp)
        new Pin(cp, n)
      case Some(dir) =>
        val sc = spark.sparkContext
        if (applied.get(sc) != dir) {
          sc.setCheckpointDir(dir)
          applied.put(sc, dir): Unit
        }
        df.persist(StorageLevel.MEMORY_AND_DISK)
        val cp =
          try df.checkpoint()
          finally df.unpersist(blocking = false): Unit
        new Pin(cp, rowsOf(cp))
    }
  }

  /** `counted` without the count. */
  def cut(df: DataFrame): DataFrame = counted(df).df

  /** Drop the blocks of every local checkpoint under `df`'s plan (they
    * live on the RDD, not in the cache manager, so `unpersist` alone
    * would leave them until GC). Reliable checkpoints hold no blocks;
    * for them this is a no-op. No `RDD.unpersist`: it would log a
    * "cannot be recomputed" WARN per checkpoint, the point of releasing it.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        ContextBridge.unpersistRDD(lr.rdd.sparkContext, lr.rdd.id)
      case _ =>
    }

  private def rowsOf(cp: DataFrame): Long = {
    val rdd = checkpointed(cp)
    if (rdd.partitions.isEmpty) 0L else rdd.count()
  }

  private def checkpointed(cp: DataFrame): org.apache.spark.rdd.RDD[_] =
    cp.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      case other => sys.error(s"checkpoint did not yield an RDD scan: ${other.nodeName}")
    }

  /** Chain-position syntax: `df.transform(...).cutLineage()` keeps the
    * loop bodies reading like the `.localCheckpoint()` they replace.
    */
  implicit final class CutOps(private val df: DataFrame) extends AnyVal {
    def cutLineage(): DataFrame = cut(df)
  }
}
