package graft.core

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet star schema (TESTDATA.md).
  *
  * All engine queries take a scale-factor directory and read one parquet
  * file per table. Parquet gives Catalyst column pruning + predicate
  * pushdown at the scan for free — at 100 TB these scans are the dominant
  * cost, so every query should project/filter as early as possible and let
  * the optimizer push it into the scan (verify via `.explain("formatted")`:
  * `PushedFilters` / `ReadSchema`).
  *
  * Parquet schema inference is a Spark job (a footer-reading task), so a
  * table's schema is inferred once per session and every later read
  * passes it to `spark.read.schema`, which runs no job. The memo holds
  * the schema, not the DataFrame: each read is a fresh relation with
  * fresh attribute ids, so two reads of one table in one query never
  * collide. It is keyed by the path plus the file listing under it
  * (names, sizes, modification times), so a table rewritten in place is
  * inferred again, and by the `nanosAsLong` dial, which changes what
  * inference yields for a `TIMESTAMP(NANOS)` column.
  */
object Tables {
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** The files under a table path: (path, size, modification time). */
  private type Listing = Seq[(String, Long, Long)]

  private def listing(spark: SparkSession, path: String): Listing = {
    val p = new Path(path)
    val out = Seq.newBuilder[(String, Long, Long)]
    try {
      val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        out += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
    } catch {
      // a missing table keeps Spark's own PATH_NOT_FOUND error from the read
      case _: java.io.FileNotFoundException =>
    }
    out.result().sorted
  }

  // weak keys: a schema holds no reference to its session, so a dropped
  // session's entries go with it
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      ConcurrentHashMap[(String, Listing, String), StructType]]())

  private def schemaOf(spark: SparkSession, path: String,
      files: Listing): StructType = {
    val perSession = schemas.synchronized {
      var m = schemas.get(spark)
      if (m eq null) {
        m = new ConcurrentHashMap()
        schemas.put(spark, m)
      }
      m
    }
    val key = (path, files, spark.conf.get(NanosAsLong, "false"))
    perSession.computeIfAbsent(key, _ => spark.read.parquet(path).schema)
  }

  /** Whether the table's `ts` column is parquet `TIMESTAMP(NANOS)`, read
    * from the first data file's footer (no job, no conf). Decided once
    * per path and listing.
    */
  private val nanosTs = new ConcurrentHashMap[(String, Listing), java.lang.Boolean]()

  private def hasNanosTs(spark: SparkSession, path: String,
      files: Listing): Boolean =
    nanosTs.computeIfAbsent((path, files), _ => {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
      val data = files.map(f => new Path(f._1))
        .find(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      java.lang.Boolean.valueOf(data.exists { f =>
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(f, spark.sparkContext.hadoopConfiguration))
        try {
          val schema = reader.getFooter.getFileMetaData.getSchema
          schema.containsField("ts") &&
            (schema.getType(schema.getFieldIndex("ts")).getLogicalTypeAnnotation match {
              case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
              case _ => false
            })
        } finally reader.close()
      })
    }).booleanValue()

  /** Newer testdata generations write timestamps as plain parquet
    * TIMESTAMP (no zone), which Spark reads as TIMESTAMP_NTZ; the
    * engine's operators and their DuckDB oracles were built on
    * TimestampType. The session timeZone is UTC in every entry point
    * (Verify/Bench/tests), so the NTZ→LTZ cast is value-preserving —
    * the same instant DuckDB sees in its naive-timestamp view — and
    * purely a scan-stage projection (no shuffle, prunable).
    */
  private def normalizeNtz(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val ntz = df.schema.fields.filter(_.dataType == TimestampNTZType)
    if (ntz.isEmpty) df
    else df.select(df.schema.fields.map { f =>
      if (f.dataType == TimestampNTZType) col(f.name).cast(TimestampType).as(f.name)
      else col(f.name)
    }.toIndexedSeq: _*)
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    read(spark, path, listing(spark, path))
  }

  private def read(spark: SparkSession, path: String, files: Listing): DataFrame =
    normalizeNtz(spark.read.schema(schemaOf(spark, path, files)).parquet(path))

  /** Redistribute a small-but-compute-heavy table across the cluster —
    * but ONLY when the scan itself is under-parallel. The driver's
    * testdata files are single-row-group parquet — unsplittable, so every
    * scan is one task and per-row-expensive operators (sketches, vector
    * math) serialize onto one core; one round-robin shuffle of a few MB
    * buys full parallelism. A real multi-file table at scale already has
    * ≥ cluster-parallelism input splits, and injecting an unconditional
    * full shuffle into a 100 TB scan would be the bottleneck — so the
    * repartition is gated on the scan's actual partition count (plan
    * compilation only; no job runs). Never changes results.
    */
  def spread(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= math.max(1, par / 2)) df
    else df.repartition(par)
  }

  /** Register every testdata table as a temp view so the whole surface
    * is reachable from `spark.sql(...)` — the Table-API layer of the
    * reference IS Spark SQL natively (SURVEY §1.1).
    */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { name =>
      val df = name match {
        case "events"               => events(spark, sfDir)
        case "documents"            => documents(spark, sfDir)
        case "embeddings"           => embeddings(spark, sfDir)
        case other                  => table(spark, sfDir, other)
      }
      df.createOrReplaceTempView(name)
    }

  def region(spark: SparkSession, d: String): DataFrame    = table(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame    = table(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame  = table(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame  = table(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame      = table(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame    = table(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame  = table(spark, d, "lineitem")
  /** `events.ts` has shipped in two physical shapes across testdata
    * generations: parquet TIMESTAMP(NANOS) — which Spark's vectorized
    * reader rejects ([PARQUET_TYPE_ILLEGAL]), so it is read as a raw
    * nanos long (legacy conf) and truncated to micros, the same
    * truncation DuckDB applies at us precision — and plain TIMESTAMP
    * (micros, no zone), which Spark reads as TIMESTAMP_NTZ. Normalize
    * both to TimestampType: the session timeZone is UTC everywhere
    * (Verify/Bench/tests), so the NTZ→LTZ cast preserves the wall-clock
    * instant exactly as DuckDB's naive-timestamp view of the same file.
    *
    * Which shape a file has is read from its footer once per path and
    * listing. A micros file never touches `nanosAsLong`, so an
    * unrelated NANOS parquet read elsewhere in the session keeps its
    * loud PARQUET_TYPE_ILLEGAL error. A NANOS file needs the conf set
    * for as long as the session runs (the scan re-reads it at each
    * action's planning time), so it is set when it is not already on.
    */
  def events(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val path = s"$d/events.parquet"
    val files = listing(spark, path)
    if (hasNanosTs(spark, path, files) &&
        !spark.conf.getOption(NanosAsLong).contains("true"))
      spark.conf.set(NanosAsLong, "true")
    val raw = read(spark, path, files)
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw // an NTZ ts was already cast to LTZ by normalizeNtz
    }
  }
  // memoized: the spread-probe (scan partition count) runs once per
  // session+dir, and every operator composes over the same plan object.
  // Not declared builds: uncached base tables the builds themselves read
  def documents(spark: SparkSession, d: String): DataFrame =
    Memo(spark, cache = false, "documents", d)(spread(table(spark, d, "documents")))
  def embeddings(spark: SparkSession, d: String): DataFrame =
    Memo(spark, cache = false, "embeddings", d)(spread(table(spark, d, "embeddings")))
}
