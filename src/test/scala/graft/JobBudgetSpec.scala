package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Lineage, Profile, Tables}
import graft.operators.{Graph, Ranks, Relational, Similarity, Windowed}

/** Job budgets for DataFrame construction: the calls below hold
  * everything they need before they are asked, so building their frames
  * must not start Spark jobs for it. Jobs are counted per call by a job
  * tag and a drained listener bus (`Profile.span`).
  */
class JobBudgetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  private def jobs[T](body: => T): Int = Profile.span(spark)(body)._2.jobs

  /** Shuffle-map tasks run while `body` runs. */
  private def shuffleTasks[T](body: => T): Int =
    Profile.span(spark)(body)._2.stages.map(_.shuffleMapTasks).sum

  test("a second Tables.table read of an unchanged file runs no job") {
    val dir = Files.createTempDirectory("graft_jobs_tables").toString
    try {
      spark.range(100).toDF("a").write.parquet(s"$dir/t.parquet")
      // the first read infers the schema (a job): the probe sees jobs
      assert(jobs(Tables.table(spark, dir, "t")) >= 1)
      assert(jobs(Tables.table(spark, dir, "t")) == 0)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir)): Unit
  }

  test("window arm: pinned ranks over a pinBase result run no job at construction") {
    import spark.implicits._
    val df = (0 until 500).map(i => (s"g${i % 3}", (i % 7).toLong, i.toLong))
      .toDF("g", "v", "id")
    val pin = Lineage.counted(df)
    assert(jobs(Ranks.globalRankPinned(pin.df, pin.rows, "r", $"v", $"id")) == 0)
    assert(jobs(Ranks.groupRowNumberPinned(pin.df, pin.rows, "rn",
      Seq($"g"), Seq($"v", $"id"))) == 0)
  }

  test("a counted cut of a frame with no partitions runs no job") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL("a LONG"))
    val (pin, work) = Profile.span(spark)(Lineage.counted(empty))
    assert(work.jobs == 0, s"counted ran ${work.jobs} jobs over a 0-partition frame")
    assert(pin.rows == 0L)
  }

  test("rank consumers: q177 construction runs one job, q167 none") {
    Windowed.watermarkAdvisor(spark, sf) // table schemas warm
    Relational.joinSkewAdvisor(spark, sf)
    // q177: one counted cut of the events projection serves both scans
    assert(jobs(Windowed.watermarkAdvisor(spark, sf)) == 1)
    // q167: the histogram has one consumer, so nothing is pinned
    assert(jobs(Relational.joinSkewAdvisor(spark, sf)) == 0)
  }

  test("randomWalks: construction jobs do not grow with the step count") {
    // Spark's cache is shared by sessions, so another suite's
    // Memo.release of an equal plan can drop this session's cached edge
    // build; cache it again so the count is q145's own
    Graph.copurchasePairs(spark, sf).persist()
    Graph.randomWalks(spark, sf, steps = 1) // memos and table schemas warm
    // q145: one job, the edge collect; the walk runs on the driver
    assert(jobs(Graph.randomWalks(spark, sf, steps = 1)) == 1)
    assert(jobs(Graph.randomWalks(spark, sf, steps = 4)) == 1)
  }

  test("powerIteration and linearProbe: one construction job per step, no shuffle") {
    Similarity.powerIteration(spark, sf, iters = 1) // memos warm
    val p1 = jobs(Similarity.powerIteration(spark, sf, iters = 1))
    val p4 = jobs(Similarity.powerIteration(spark, sf, iters = 4))
    assert(p4 - p1 == 3, s"iters=1 ran $p1 construction jobs, iters=4 ran $p4")
    Similarity.linearProbe(spark, sf, epochs = 1)
    val l1 = jobs(Similarity.linearProbe(spark, sf, epochs = 1))
    val l3 = jobs(Similarity.linearProbe(spark, sf, epochs = 3))
    assert(l3 - l1 == 2, s"epochs=1 ran $l1 construction jobs, epochs=3 ran $l3")
    assert(shuffleTasks(Similarity.powerIteration(spark, sf, iters = 2)) == 0)
    assert(shuffleTasks(Similarity.linearProbe(spark, sf, epochs = 2)) == 0)
  }
}
