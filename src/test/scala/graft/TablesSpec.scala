package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.core.Tables

/** Laws for the table loaders: a read with the memoized schema is the
  * inferred read, a table rewritten in place is read with its new
  * schema, and `events.ts` normalizes to micros TimestampType on both
  * physical shapes without disturbing `nanosAsLong` where it is not
  * needed.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"
  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  test("a read with the memoized schema has the inferred schema") {
    for (t <- Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings")) {
      // the loader casts TIMESTAMP_NTZ to TimestampType either way
      val inferred = org.apache.spark.sql.types.StructType(
        spark.read.parquet(s"$sf/$t.parquet").schema.map { f =>
          if (f.dataType == org.apache.spark.sql.types.TimestampNTZType)
            f.copy(dataType = TimestampType)
          else f
        })
      Tables.table(spark, sf, t): Unit
      assert(Tables.table(spark, sf, t).schema == inferred, t)
    }
  }

  test("a table overwritten at the same path is read with its new schema") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tables").toString
    try {
      spark.range(10).select($"id".as("a")).write.parquet(s"$dir/t.parquet")
      assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("a"))
      spark.range(10).select($"id".as("a"), $"id".cast("string").as("b"))
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      val again = Tables.table(spark, dir, "t")
      assert(again.columns.toSeq == Seq("a", "b"))
      assert(again.filter($"b" === "3").count() == 1L)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir)): Unit
  }

  test("a TIMESTAMP(NANOS) events file reads as micros TimestampType, every read") {
    import spark.implicits._
    // three rows with sub-micro digits, written as parquet TIMESTAMP(NANOS)
    val dir = new java.io.File(getClass.getResource("/nanos_events").toURI).getPath
    val prev = spark.conf.getOption(nanosKey)
    try {
      for (read <- 1 to 2) {
        val ev = Tables.events(spark, dir)
        assert(ev.schema("ts").dataType == TimestampType, s"read $read")
        val micros = ev.orderBy($"event_id").select(unix_micros($"ts"))
          .as[Long].collect().toSeq
        assert(micros == Seq(1704067200123456L, 1704067201000000L,
          1709251199999999L), s"read $read")
      }
    } finally prev match {
      case Some(p) => spark.conf.set(nanosKey, p)
      case None => spark.conf.unset(nanosKey)
    }
  }

  test("a micros events file leaves nanosAsLong as it found it") {
    val prev = spark.conf.getOption(nanosKey)
    try {
      for (state <- Seq(None, Some("false"), Some("true"))) {
        state match {
          case Some(v) => spark.conf.set(nanosKey, v)
          case None => spark.conf.unset(nanosKey)
        }
        val ev = Tables.events(spark, sf)
        assert(ev.schema("ts").dataType == TimestampType)
        // getAll holds only keys set on the session: unset stays unset
        assert(spark.conf.getAll.get(nanosKey) == state, s"from $state")
      }
    } finally prev match {
      case Some(p) => spark.conf.set(nanosKey, p)
      case None => spark.conf.unset(nanosKey)
    }
  }
}
