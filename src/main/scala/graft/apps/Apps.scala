package graft.apps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.batch.MailPrograms
import graft.operators.{Graph, Ranks}
import graft.sources.{MailSource, Sinks, TaxiSource}
import graft.streaming.TaxiStreams

/** Runnable mains mirroring the reference's 12 programs (SURVEY §0) —
  * thin CLI shells over the library so a user of the reference can run
  * the same exercises: `sbt "runMain graft.apps.<Name> --input <path>"`.
  */
object Apps {
  private[apps] def session(name: String): SparkSession = {
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName(name)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private[apps] def arg(args: Array[String], name: String): String =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }
      .getOrElse(sys.error(s"missing required parameter $name"))
}

import Apps._

/** datastream_java/basics/RideCleansing.java — batch form. */
object RideCleansing {
  def main(args: Array[String]): Unit = {
    val spark = session("RideCleansing")
    val rides = TaxiSource.readRides(spark, arg(args, "--input"))
    Sinks.console(TaxiStreams.cleanse(rides.toDF()))
  }
}

/** datastream_java/windows/PopularPlaces.java — batch window form. */
object PopularPlaces {
  def main(args: Array[String]): Unit = {
    val spark = session("PopularPlaces")
    val rides = TaxiSource.readRides(spark, arg(args, "--input")).toDF()
      .withColumn("eventTime", when(col("isStart"), col("startTime")).otherwise(col("endTime")))
    Sinks.console(TaxiStreams.popularPlaces(rides))
  }
}

/** datastream_java/windows/PopularPlaces.java — true streaming form
  * (file-drip directory input, console sink, append mode).
  */
object PopularPlacesStream {
  def main(args: Array[String]): Unit = {
    val spark = session("PopularPlacesStream")
    val rides = TaxiSource.streamRides(spark, arg(args, "--input"))
    TaxiStreams.popularPlacesStream(rides)
      .writeStream.format("console").outputMode("append")
      .option("checkpointLocation", arg(args, "--checkpoint"))
      .start().awaitTermination()
  }
}

/** datastream_java/state/TravelTimePrediction.java. */
object TravelTimePrediction {
  def main(args: Array[String]): Unit = {
    val spark = session("TravelTimePrediction")
    val rides = TaxiSource.readRides(spark, arg(args, "--input"))
    Sinks.console(TaxiStreams.travelTimePrediction(rides).toDF())
  }
}

/** datastream_java/connectors/RideCleansingToKafka.java — kafka-shaped
  * (key, value) CSV payloads; offline they land in files.
  */
object RideCleansingToKafka {
  def main(args: Array[String]): Unit = {
    val spark = session("RideCleansingToKafka")
    import spark.implicits._
    val rides = TaxiSource.readRides(spark, arg(args, "--input"))
    val cleansed = TaxiStreams.cleanse(rides.toDF()).as[graft.core.TaxiRide]
    Sinks.kafkaShaped(cleansed).write.mode("overwrite").json(arg(args, "--output"))
  }
}

/** datastream_java/connectors/PopularPlacesToES.java — ES-shaped JSON
  * docs {time, location: "lat,lon", isStart, cnt}.
  */
object PopularPlacesToES {
  def main(args: Array[String]): Unit = {
    val spark = session("PopularPlacesToES")
    val rides = TaxiSource.readRides(spark, arg(args, "--input")).toDF()
      .withColumn("eventTime", when(col("isStart"), col("startTime")).otherwise(col("endTime")))
    Sinks.esShaped(TaxiStreams.popularPlaces(rides))
      .write.mode("overwrite").text(arg(args, "--output"))
  }
}

/** dataset_java/mail_count/MailCount.java. */
object MailCount {
  def main(args: Array[String]): Unit = {
    val spark = session("MailCount")
    Sinks.console(MailPrograms.mailCount(
      MailSource.readMailRecords(spark, arg(args, "--input"))), rows = 100)
  }
}

/** dataset_java/tf_idf/MailTFIDF.java. */
object MailTFIDF {
  def main(args: Array[String]): Unit = {
    val spark = session("MailTFIDF")
    Sinks.console(MailPrograms.mailTfIdf(
      MailSource.readMailRecords(spark, arg(args, "--input"))), rows = 100)
  }
}

/** dataset_java/reply_graph/ReplyGraph.java. */
object ReplyGraph {
  def main(args: Array[String]): Unit = {
    val spark = session("ReplyGraph")
    Sinks.console(MailPrograms.replyGraph(
      MailSource.readMailRecords(spark, arg(args, "--input"))), rows = 100)
  }
}

/** table_java/memberotm/MemberOTMonth.java. */
object MemberOTMonth {
  def main(args: Array[String]): Unit = {
    val spark = session("MemberOTMonth")
    Sinks.console(MailPrograms.memberOTMonth(
      MailSource.readMailRecords(spark, arg(args, "--input"))), rows = 100)
  }
}

/** dataset_preparation/MBoxParser.java — mbox → delimited records. */
object MBoxParser {
  def main(args: Array[String]): Unit = {
    val spark = session("MBoxParser")
    Sinks.writeDelimited(
      MailSource.readMbox(spark, arg(args, "--input")).toDF(),
      arg(args, "--output"), graft.core.Mail.FieldDelim, graft.core.Mail.RecordDelim)
  }
}

/** gelly_java/PageRankWithEdgeWeights.java — file-based edge list
  * (src \t dst \t weight), fixed iterations, damping 0.85.
  */
object PageRankWithEdgeWeights {
  def main(args: Array[String]): Unit = {
    val spark = session("PageRankWithEdgeWeights")
    import spark.implicits._
    val iters = args.sliding(2).collectFirst { case Array("--iterations", v) => v.toInt }.getOrElse(10)
    val edges = spark.read.option("sep", "\t")
      .schema("src STRING, dst STRING, weight DOUBLE")
      .csv(arg(args, "--input"))
    Sinks.console(pageRankOnEdges(edges, iters), rows = 100)
  }

  /** PageRank over an arbitrary weighted edge DataFrame (string vertex
    * ids) — the Gelly pipeline of SURVEY §2.9 on file input, run by the
    * engine's loop (`Graph.pageRankEdges`, the one q13 runs). Names map
    * to long ids by their rank in name order, which a recomputation
    * cannot renumber, and map back on the way out.
    */
  def pageRankOnEdges(edges: DataFrame, iterations: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val ids = Ranks.globalRank(edges.select($"src".as("name"))
      .union(edges.select($"dst".as("name"))).distinct(), "id", $"name".asc)
    val byId = edges
      .join(ids.select($"name".as("src"), $"id".as("s")), "src")
      .join(ids.select($"name".as("dst"), $"id".as("t")), "dst")
      .select($"s".as("src"), $"t".as("dst"), $"weight".as("w"))
    Graph.pageRankEdges(spark, byId, iterations)
      .join(ids, "id").select($"name".as("id"), $"rank")
  }
}
