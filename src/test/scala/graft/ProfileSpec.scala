package graft

import java.util.concurrent.{ConcurrentHashMap, CyclicBarrier}

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Profile

/** `Profile.span` charges a span exactly the Spark work its own thread
  * ran, and the WARN lines logged and classes compiled meanwhile.
  */
class ProfileSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("repartition + count: the jobs and shuffle-map tasks its plan implies") {
    val (n, work) = Profile.span(spark)(
      spark.range(0, 1000, 1, 3).repartition(5).count())
    assert(n == 1000L)
    // two exchanges: 3 tasks write the round-robin shuffle, 5 write the
    // partial counts; AQE runs each exchange as a job of its own, then
    // the final count, so 3 jobs and 3 stages
    assert(work.jobs == 3 && work.stages.map(_.shuffleMapTasks) == Seq(3, 5, 0), work)
    assert(work.stages.exists(_.shuffleRead > 0), work)
  }

  test("a body that runs no job reports no jobs and no stages") {
    val (_, work) = Profile.span(spark)(spark.range(10).selectExpr("id * 2"))
    assert(work.jobs == 0 && work.stages.isEmpty, work)
  }

  test("two spans open at once on two threads each see only their own jobs") {
    val (open, close) = (new CyclicBarrier(2), new CyclicBarrier(2))
    val works = new ConcurrentHashMap[Int, Profile.Work]()
    val threads = Seq(2, 5).map(k => new Thread(() => works.put(k,
      Profile.span(spark) {
        open.await()
        (1 to k).foreach(_ => spark.sparkContext.parallelize(1 to 10, 2).count())
        close.await()
      }._2): Unit))
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    for (k <- Seq(2, 5))
      assert(works.get(k).jobs == k && works.get(k).stages.size == k, works)
  }

  test("a WARN logged inside a span is captured; one logged after is not") {
    val log = org.apache.logging.log4j.LogManager.getLogger(classOf[ProfileSpec])
    val (_, work) = Profile.span(spark)(log.warn("profile-spec inside"))
    log.warn("profile-spec outside")
    assert(work.warns.contains("profile-spec inside") &&
      !work.warns.contains("profile-spec outside"), work.warns)
  }

  test("a span that compiles a fresh plan counts its generated classes") {
    // a literal no other plan holds makes the generated body new
    val k = System.nanoTime() % 1000000L + 7L
    val (_, work) = Profile.span(spark)(
      spark.range(100).selectExpr(s"id * $k + ${k + 1} AS x").collect())
    assert(work.compiles > 0, work)
  }

  test("the rank machinery releases its pins without a recompute WARN") {
    import spark.implicits._
    spark.conf.set("spark.graft.rank.windowMaxRows", "0")
    try {
      val (n, work) = Profile.span(spark)(graft.operators.Ranks.globalRank(
        spark.range(1000).select($"id".as("v")), "r", $"v".asc).count())
      assert(n == 1000L && work.jobs > 0, work)
      val recompute = work.warns.filter(_.contains("cannot be recomputed"))
      assert(recompute.isEmpty, recompute)
    } finally spark.conf.unset("spark.graft.rank.windowMaxRows")
  }
}
