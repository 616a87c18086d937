package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Bounded
import graft.functions.VectorFunctions.dotPreQ
import graft.operators.{Ranks, Similarity}

/** The fold sites equal the groupBy + `Bounded.collect` reductions they
  * replaced, written out here as the reference: same values, the same
  * NULLs, the same bound failure and an `ArithmeticException` on ANSI
  * overflow, on empty, nulled and ragged-width fixtures.
  */
class BoundedFoldSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private val longs = ArrayType(LongType, containsNull = true)
  private def arr(xs: Any*): Seq[java.lang.Long] = xs.map {
    case null => null
    case i: Int => java.lang.Long.valueOf(i.toLong)
    case l: Long => java.lang.Long.valueOf(l)
  }

  private def corpus(rows: Seq[java.lang.Long]*): DataFrame =
    frame(StructType(Seq(StructField("vec_id", LongType), StructField("eq", longs))),
      rows.zipWithIndex.map { case (r, i) => Row(i.toLong, r) })

  private def probeBase(rows: (Long, Seq[java.lang.Long])*): DataFrame =
    frame(StructType(Seq(StructField("y", LongType), StructField("x3", longs))),
      rows.map { case (y, x) => Row(y, x) })

  private def lloydBase(rows: Seq[java.lang.Long]*): DataFrame =
    corpus(rows: _*).select(col("vec_id"), col("eq").as("qemb"),
      dotPreQ(col("eq"), col("eq")).as("n2"))

  // ---- the replaced forms ----
  private def powerOld(ex: DataFrame, vq: Seq[Long]): Map[Int, java.math.BigDecimal] =
    Bounded.collect(
        ex.withColumn("dv", dotPreQ(col("eq"), typedLit(vq)))
          .select(col("dv"), posexplode(col("eq")).as(Seq("i", "e")))
          .groupBy(col("i"))
          .agg(sum(col("e").cast("decimal(38,0)") * col("dv")).as("u")),
        vq.length.toLong, "powerIteration matvec (dims rows)")
      .map(r => r.getInt(0) -> r.getDecimal(1)).toMap

  private def probeOld(ex: DataFrame, w: Seq[Long]): Map[Int, java.lang.Long] =
    Bounded.collect(
        ex.withColumn("m", col("y") * dotPreQ(col("x3"), typedLit(w)))
          .filter(col("m") <= 0)
          .select(col("y"), posexplode(col("x3")).as(Seq("i", "xi")))
          .groupBy(col("i")).agg(sum(col("y") * col("xi")).as("dw")),
        w.length.toLong, "linearProbe gradient (dims rows)")
      .map(r => r.getInt(0) -> r.getAs[java.lang.Long](1)).toMap

  private def lloydOld(c: DataFrame, cents: Array[(Long, Seq[Long])],
      bound: Long): Map[(Long, Int), java.lang.Long] =
    Bounded.collect(
        Similarity.assignTo(c, cents)
          .select(col("cluster"), posexplode(col("qemb")).as(Seq("i", "q")))
          .groupBy(col("cluster"), col("i"))
          .agg(round(sum(col("q")).cast("double") / count(lit(1))).cast("long").as("cq")),
        bound, "lloydCentroids update (k·dims rows)")
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getAs[java.lang.Long](2)).toMap

  private def sameFailure[E <: Throwable](old: => Any, fold: => Any)(
      implicit ct: scala.reflect.ClassTag[E]): Unit = {
    def causeOf(body: => Any): E = {
      val e = intercept[Throwable](body)
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case x: E => x }
        .getOrElse(fail(s"expected ${ct.runtimeClass.getSimpleName}, got $e"))
    }
    val (o, f) = (causeOf(old), causeOf(fold))
    if (ct.runtimeClass == classOf[IllegalArgumentException])
      assert(o.getMessage == f.getMessage)
  }

  test("power-iteration matvec fold == the (dim) DECIMAL sum aggregate") {
    val vq = Seq(1000000L, -3L, 7L)
    val fixtures = Seq(
      "empty" -> corpus(),
      "dense" -> corpus(arr(1, 2, 3), arr(-4, 5, 6), arr(7, 8, -9)),
      // a NULL cell nulls its row's dot; dim 1 sees only NULL cells
      "nulled" -> corpus(arr(1, null, 3), arr(2), arr(null, null, 2)),
      // narrower rows dot their own prefix and skip the missing dims
      "ragged" -> corpus(arr(1, 2, 3), arr(5), arr(), arr(2, 2)))
    for ((name, ex) <- fixtures) {
      val eqs = ex.select("eq")
      assert(Similarity.powerStep(eqs, Some(vq.toArray)).u(vq.length) == powerOld(ex, vq), name)
      // the first step: v = 1e6 everywhere, dims read from the first row
      val start = Similarity.powerStep(eqs, None)
      val dims = graft.core.Scalars.headOption(ex.select(size(col("eq"))))
        .map(_.getInt(0)).getOrElse(-1)
      assert(start.first == dims, name)
      if (dims > 0)
        assert(start.u(dims) == powerOld(ex, Seq.fill(dims)(1000000L)), name)
    }
    // a row wider than dims fails the same bound, on both steps
    val wide = corpus(arr(1, 2), arr(1, 2, 3))
    sameFailure[IllegalArgumentException](powerOld(wide, Seq(1L, 1L)),
      Similarity.powerStep(wide.select("eq"), Some(Array(1L, 1L))).u(2))
    sameFailure[IllegalArgumentException](powerOld(wide, Seq(1000000L, 1000000L)),
      Similarity.powerStep(wide.select("eq"), None).u(2))
    // four products of 3.2e37 pass DECIMAL(38,0)
    val big = corpus(Seq.fill(4)(arr(4000000000000000000L)): _*)
    sameFailure[ArithmeticException](powerOld(big, Seq(2L)),
      Similarity.powerStep(big.select("eq"), Some(Array(2L))).u(1))
  }

  test("linear-probe gradient fold == the (dim) sum aggregate") {
    val w = Seq(2L, -1L, 0L)
    val fixtures = Seq(
      "empty" -> probeBase(),
      "dense" -> probeBase(1L -> arr(1, 2, 3), -1L -> arr(3, 1, 1), 1L -> arr(-5, 0, 2)),
      // a NULL inside the dot drops the vector
      "nulled" -> probeBase(1L -> arr(null, 2, 3), -1L -> arr(1, 2, 3),
        1L -> arr(-1, 1, null)),
      "ragged" -> probeBase(-1L -> arr(1, 2, 3), -1L -> arr(4), 1L -> arr(), 1L -> arr(-2, 0)))
    for ((name, ex) <- fixtures) {
      assert(Similarity.probeStep(ex, Some(w.toArray)).dw(w.length) == probeOld(ex, w), name)
      // the first epoch: w = 0, dims read from the first row
      val start = Similarity.probeStep(ex, None)
      val dims = graft.core.Scalars.headOption(ex.select(size(col("x3"))))
        .map(_.getInt(0)).getOrElse(-1)
      assert(start.first == dims, name)
      assert(start.dw(math.max(dims, 0)) == probeOld(ex, Seq.fill(math.max(dims, 0))(0L)), name)
    }
    val wide = probeBase(1L -> arr(0, 0, 0, 1))
    sameFailure[IllegalArgumentException](probeOld(wide, w),
      Similarity.probeStep(wide, Some(w.toArray)).dw(3))
    // the first epoch: a row wider than dims passes a margin over dims
    // with its NULL past it, failing the bound without adding a cell
    val wideNull = probeBase(1L -> arr(1, 2), -1L -> arr(3, 4, null))
    sameFailure[IllegalArgumentException](probeOld(wideNull, Seq(0L, 0L)),
      Similarity.probeStep(wideNull, None).dw(2))
    val big = probeBase(1L -> arr(Long.MaxValue, 0, 0), 1L -> arr(Long.MaxValue, 0, 0))
    sameFailure[ArithmeticException](probeOld(big, Seq(0L, 0L, 0L)),
      Similarity.probeStep(big, Some(Array(0L, 0L, 0L))).dw(3))
  }

  test("Lloyd update fold == the (cluster, dim) HALF_UP mean aggregate") {
    val cents = Array(10L -> Seq(0L, 0L), 20L -> Seq(100L, 100L))
    val fixtures = Seq(
      "empty" -> lloydBase(),
      // means 1.5, -1.5, 2.5 round HALF_UP away from zero
      "dense" -> lloydBase(arr(1, -1), arr(2, -2), arr(99, 2), arr(100, 3)),
      // NULL cells count their row; NULL-norm rows all land in one
      // cluster, whose dim 0 sees only NULL cells
      "nulled" -> lloydBase(arr(99, 101), arr(120, 100), arr(null, 7), arr(null, 8),
        arr(null, null)),
      "ragged" -> lloydBase(arr(1, 2), arr(3), arr(101, 101)))
    for ((name, c) <- fixtures)
      assert(Similarity.lloydStep(c, cents, 4) == lloydOld(c, cents, 4), name)
    val wide = lloydBase(arr(1, 2, 3))
    sameFailure[IllegalArgumentException](lloydOld(wide, cents, 2),
      Similarity.lloydStep(wide, cents, 2))
    // one zero centroid keeps the assignment's own arithmetic in range
    val zero = Array(10L -> Seq(0L, 0L))
    val big = lloydBase(arr(5000000000000000000L, 0), arr(5000000000000000000L, 0))
    sameFailure[ArithmeticException](lloydOld(big, zero, 2),
      Similarity.lloydStep(big, zero, 2))
  }

  test("partition offsets fold == the per-pid count / sum aggregate") {
    val parted = graft.core.Lineage.cut(spark.range(200)
      .select(col("id"), (col("id") % 3).as("__cnt"))
      .repartitionByRange(4, col("id"))
      .withColumn("__pid", spark_partition_id()))
    def offsetsOld(n: Column, bound: Long = 4): Map[Int, Long] = {
      val sizes = Bounded.collect(parted.groupBy(col("__pid")).agg(n.as("n")), bound,
          "offsets").map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
      sizes.map(_._1).zip(sizes.scanLeft(0L)(_ + _._2)).toMap
    }
    assert(Ranks.partitionOffsets(parted, "__pid", None, 4, "offsets") ==
      offsetsOld(count(lit(1))))
    assert(Ranks.partitionOffsets(parted, "__pid", Some("__cnt"), 4, "offsets") ==
      offsetsOld(sum(col("__cnt"))))
    sameFailure[IllegalArgumentException](offsetsOld(count(lit(1)), 3),
      Ranks.partitionOffsets(parted, "__pid", None, 3, "offsets"))
    graft.core.Lineage.release(parted)
  }
}
