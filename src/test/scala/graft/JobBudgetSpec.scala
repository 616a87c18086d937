package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.operators.{Graph, Ranks}

/** Job budgets for DataFrame construction: the calls below hold
  * everything they need before they are asked, so building their frames
  * must not start Spark jobs for it. Jobs are counted per call by a job
  * tag and a drained listener bus (`PlanStats.jobsRun`).
  */
class JobBudgetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  private def jobs[T](body: => T): Int =
    graft.tools.PlanStats.jobsRun(spark)(body)._2

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
    val pin = Ranks.pinBase(df)
    assert(jobs(Ranks.globalRankPinned(pin.df, pin.rows, "r", $"v", $"id")) == 0)
    assert(jobs(Ranks.groupRowNumberPinned(pin.df, pin.rows, "rn",
      Seq($"g"), Seq($"v", $"id"))) == 0)
  }

  test("randomWalks: construction jobs do not grow with the step count") {
    Graph.randomWalks(spark, sf, steps = 1) // memos and table schemas warm
    val one = jobs(Graph.randomWalks(spark, sf, steps = 1))
    val four = jobs(Graph.randomWalks(spark, sf, steps = 4))
    assert(one == four, s"steps=1 ran $one construction jobs, steps=4 ran $four")
  }
}
