package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** An order-independent digest of a whole result, computed in Spark.
  *
  * Every column takes part, in name order, so the action reads every
  * column the query produces (a `count()` lets Catalyst prune unread
  * columns and even whole join branches). Each row hashes to one
  * `xxhash64` over its columns; the digest is the row count plus the sum
  * of those hashes, which ignores row order and partitioning.
  */
object Digest {
  private def hashable(c: Column, t: DataType): Column = t match {
    // xxhash64 rejects maps; their sorted entries carry the same values
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }

  def frame(df: DataFrame): DataFrame = {
    val fields = df.schema.fields.toSeq.zipWithIndex
    // positional names: a result may repeat a column name
    val named = df.toDF(fields.map { case (_, i) => s"c$i" }: _*)
    val cols = fields.sortBy { case (f, i) => (f.name, i) }
      .map { case (f, i) => hashable(col(s"c$i"), f.dataType) }
    named.agg(
      count(lit(1)).as("rows"),
      coalesce(sum(xxhash64(cols: _*).cast(DecimalType(38, 0))), lit(BigDecimal(0)))
        .as("h"))
  }

  /** `rows:hashsum`, the form frozen in digests.json. */
  def of(df: DataFrame): String = {
    val r = frame(df).collect()(0)
    s"${r.getLong(0)}:${r.getDecimal(1).toBigInteger}"
  }
}

/** The digest's own tests: it ignores row and column order and
  * partitioning, and changes when one value changes.
  * Run with `python3 perfbench/run.py --selftest`.
  */
object DigestSelfTest {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", args(0) + "/warehouse")
      .config("spark.local.dir", args(0) + "/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val rows = Seq((1L, "a", 1.5, Seq(1, 2)), (2L, "b", -0.25, Seq.empty[Int]),
      (3L, null, 7.0, Seq(3)), (3L, null, 7.0, Seq(3)))
    def frameOf(rs: Seq[(Long, String, Double, Seq[Int])]) =
      rs.toDF("k", "s", "x", "arr").withColumn("m", map(lit("key"), $"k"))
    val base = frameOf(rows)
    val d = Digest.of(base)
    var failures = 0
    def check(name: String, ok: Boolean): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $name")
      if (!ok) failures += 1
    }
    check("row order is ignored", Digest.of(base.orderBy($"k".desc, $"x")) == d)
    check("partitioning is ignored", Digest.of(base.repartition(3)) == d)
    check("column order is ignored", Digest.of(base.select("m", "x", "arr", "k", "s")) == d)
    check("one changed value changes it",
      Digest.of(base.withColumn("x", when($"k" === 2, lit(-0.5)).otherwise($"x"))) != d)
    check("one changed string changes it",
      Digest.of(base.withColumn("s", when($"k" === 1, lit("z")).otherwise($"s"))) != d)
    check("a dropped duplicate row changes it", Digest.of(frameOf(rows.distinct)) != d)
    check("values swapped between columns change it",
      Digest.of(Seq((1L, 2L)).toDF("a", "b")) != Digest.of(Seq((2L, 1L)).toDF("a", "b")))
    check("the empty result digests to 0:0", Digest.of(base.filter(lit(false))) == "0:0")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
