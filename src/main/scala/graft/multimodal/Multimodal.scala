package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, plus the decode / feature-extract /
  * resize / frame-sample stages a training-data pipeline runs over them.
  *
  * The Spark-side architecture is real and tested — schema, partition
  * strategy, batch-shaped partition-level processing (`mapPartitions`,
  * the JVM analog of `mapInPandas`: one iterator per partition so
  * per-batch setup like a decoder context is amortized). Image decode is
  * REAL for the formats the JDK ships codecs for (`decode` →
  * javax.imageio: PNG/BMP/GIF/JPEG/WBMP); formats without an in-JVM
  * codec (audio/video — this container ships no media libraries) fall
  * back to `decodeStub`, a deterministic fake deriving pixel-like
  * features from the bytes themselves, so the pipeline shape is
  * exercised end-to-end with verifiable outputs either way.
  *
  * Scale notes: binary payloads ride the same columnar scans as
  * everything else (parquet binary + min/max-prunable metadata columns);
  * feature extraction is embarrassingly parallel in the scan stage; the
  * only shuffle is whatever aggregation follows. Keep payloads under the
  * row-group target (~tens of MB) and push oversized media to object
  * storage with a pointer column — the schema below carries both forms.
  */
object Multimodal extends graft.core.Memo.Owner {

  /** Typed metadata for an opaque media payload. `uri` is the
    * pointer-form alternative to inline `content`.
    */
  case class MediaMeta(
      mediaType: String, // "image" | "audio" | "video"
      format: String,    // container/codec tag, e.g. "png", "wav"
      width: Int,
      height: Int,
      durationMs: Long,
      uri: String)

  case class MediaRecord(doc_id: Long, content: Array[Byte], meta: MediaMeta)

  /** Deterministic fake "media table": wraps each document's text bytes
    * as an opaque payload with synthesized metadata. Stands in for a real
    * binary-column table; schema and partitioning are what a real one
    * uses.
    */
  def mediaTable(spark: SparkSession, d: String): Dataset[MediaRecord] = {
    import spark.implicits._
    // a null payload has no media content: the typed Tuple3 encoder
    // would throw NOT_NULL_ASSERT_VIOLATION on it (nulled-fixture
    // DegenSweep) — a real binary table filters corrupt/absent blobs
    // at scan the same way
    documents(spark, d)
      .filter($"text".isNotNull && $"n_chars".isNotNull)
      .select($"doc_id", $"text", $"n_chars").as[(Long, String, Long)]
      .map { case (id, text, nChars) =>
        val bytes = text.getBytes("UTF-8")
        MediaRecord(id, bytes,
          MediaMeta("image", "fake", (nChars % 64).toInt + 1, 32, 0L, s"mem://doc/$id"))
      }
  }

  /** STUB decoder for formats with no in-JVM codec (audio/video
    * containers, proprietary image formats): treats bytes as a row-major
    * grayscale image of meta.width columns — deterministic, so the
    * pipeline shape stays testable end-to-end. Real formats go through
    * `decode` below instead.
    */
  def decodeStub(content: Array[Byte], meta: MediaMeta): Array[Array[Int]] = {
    val w = math.max(1, meta.width)
    content.map(b => (b & 0xff)).grouped(w).map(_.padTo(w, 0)).toArray
  }

  /** Image formats the JDK's built-in `javax.imageio` registry decodes —
    * no external dependency.
    */
  val ImageIoFormats: Set[String] = Set("png", "bmp", "gif", "jpg", "jpeg", "wbmp")

  /** REAL image decode via the JDK's `javax.imageio` (PNG/BMP/GIF/JPEG/
    * WBMP ship in every JRE): pixels come out as an exact integer-luma
    * matrix, Rec.601 weights in integer arithmetic
    * ((299·R + 587·G + 114·B) / 1000 — exact for gray pixels, engine-
    * independent everywhere). Payloads whose format has no JDK codec —
    * or that fail to parse — fall back to the deterministic stub, so a
    * corrupt blob degrades to fake features instead of failing the scan
    * stage: at 100 TB some payloads WILL be truncated, and a pipeline
    * that dies on row 10^12 is worse than one that flags it.
    */
  def decode(content: Array[Byte], meta: MediaMeta): Array[Array[Int]] = {
    val decoded =
      if (ImageIoFormats(meta.format.toLowerCase))
        // NonFatal, not just IOException: JDK readers throw unchecked
        // exceptions (IndexOutOfBounds, IllegalArgument, NegativeArraySize)
        // on malformed bodies whose headers parsed — those payloads must
        // degrade to the stub too, not kill the scan stage
        try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content)))
        catch { case scala.util.control.NonFatal(_) => None }
      else None
    decoded match {
      case Some(bi) if bi.getRaster.getNumBands == 1 &&
          !bi.getColorModel.isInstanceOf[java.awt.image.IndexColorModel] =>
        // true grayscale: read the raster's raw samples — getRGB would run
        // a linear-gray → sRGB colorspace conversion and change the bytes.
        // (Indexed images are also single-band but their samples are
        // PALETTE INDICES — those must go through getRGB below.)
        // Samples wider than 8 bits (16-bit grayscale PNGs decode to
        // TYPE_USHORT_GRAY) shift down to the 0..255 luma scale every
        // other path uses — downstream histograms index on it
        val raster = bi.getRaster
        val shift = math.max(0, raster.getSampleModel.getSampleSize(0) - 8)
        Array.tabulate(bi.getHeight, bi.getWidth)((y, x) =>
          raster.getSample(x, y, 0) >> shift)
      case Some(bi) =>
        Array.tabulate(bi.getHeight, bi.getWidth) { (y, x) =>
          val rgb = bi.getRGB(x, y)
          val (r, g, b) = ((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
          (299 * r + 587 * g + 114 * b) / 1000
        }
      case None => decodeStub(content, meta)
    }
  }

  case class MediaFeatures(
      doc_id: Long, n_bytes: Long, width: Int, height: Int,
      mean_px: Double, histogram: Array[Long])

  /** Feature extraction over partition-sized batches — the mapInPandas
    * shape: per-partition setup (decoder context) is created once per
    * iterator, rows stream through it. Output is a plain columnar
    * Dataset ready for relational ops.
    */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition "decoder" setup would happen here (once per batch)
      it.map { rec =>
        val img = decode(rec.content, rec.meta)
        val flat = img.flatten
        val hist = Array.ofDim[Long](16)
        flat.foreach(p => hist(p / 16) += 1)
        // empty payload decodes to an empty matrix — fall back to the
        // declared metadata width (= the relational derivation n_chars%64+1)
        // rather than collapsing to 0; height stays the decoded row count,
        // which is 0 = ceil(0/width), matching the same derivation
        MediaFeatures(rec.doc_id, rec.content.length.toLong,
          img.headOption.map(_.length).getOrElse(rec.meta.width), img.length,
          if (flat.isEmpty) 0.0 else flat.map(_.toLong).sum.toDouble / flat.length,
          hist)
      }
    }
  }

  /** Resize: nearest-neighbor resample over a decoded luma matrix — a
    * real (if minimal) kernel that applies to both the imageio and stub
    * decode outputs. Kept under its historical name; a production
    * pipeline would add area/bilinear kernels beside it.
    */
  def resizeStub(img: Array[Array[Int]], outW: Int, outH: Int): Array[Array[Int]] = {
    val h = math.max(1, img.length); val w = math.max(1, img.headOption.map(_.length).getOrElse(1))
    Array.tabulate(outH, outW)((y, x) => img(y * h / outH)(x * w / outW))
  }

  /** Frame sampling for video-shaped payloads: deterministic every-Nth
    * selection over a byte-chunk "frame" sequence (stub frames; real
    * impl = container demux). Emits (doc_id, frame_idx, frame_bytes).
    */
  def sampleFrames(media: Dataset[MediaRecord], everyN: Int = 4): DataFrame = {
    import media.sparkSession.implicits._
    media.flatMap { rec =>
      val frameSize = math.max(1, rec.meta.width)
      rec.content.grouped(frameSize).zipWithIndex.collect {
        case (frame, idx) if idx % everyN == 0 => (rec.doc_id, idx, frame)
      }
    }.toDF("doc_id", "frame_idx", "frame_bytes")
  }

  /** q170: frame-sampling manifest — the REAL `sampleFrames` flatMap
    * (byte-chunk demux + every-Nth selection) aggregated per asset and
    * cross-checked against the closed-form frame arithmetic
    * (ceil-divisions over byte length and frame width, short last
    * frame): the video-curation budget question "how many frames and
    * bytes does sampling keep" answered by the actual iterator path the
    * pipeline runs, with a pure-relational oracle.
    *
    * Scale: the demux is scan-stage flatMap fan-out (frames never
    * shuffle raw — the per-doc aggregate combines map-side); the
    * manifest join is doc_id-keyed.
    */
  def frameSampleManifest(spark: SparkSession, d: String,
      everyN: Int = 4): DataFrame = {
    import spark.implicits._
    val sampled = sampleFrames(mediaTable(spark, d), everyN)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_sampled"),
        sum(length($"frame_bytes")).as("sampled_bytes"))
    documents(spark, d)
      .select($"doc_id", expr("octet_length(text)").cast("long").as("n_bytes"),
        (($"n_chars" % 64) + 1).cast("long").as("width"))
      .withColumn("n_frames", expr("(n_bytes + width - 1) div width"))
      .join(sampled, Seq("doc_id"), "left")
      .select($"doc_id", $"n_bytes", $"width", $"n_frames",
        coalesce($"n_sampled", lit(0L)).as("n_sampled"),
        coalesce($"sampled_bytes", lit(0L)).as("sampled_bytes"))
  }

  /** q171: decode audit — the stub decode path's exact shape and mean
    * luma per asset, from the REAL `extractFeatures` mapPartitions
    * batch: height = ceil(bytes/width), mean over the zero-padded
    * height×width matrix (sum of payload byte values / matrix area, one
    * double division). The per-asset ingest QA record a media pipeline
    * writes next to every decoded batch.
    */
  def decodeAudit(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    extractFeatures(mediaTable(spark, d)).toDF()
      .select($"doc_id", $"n_bytes", $"width".cast("long").as("width"),
        $"height".cast("long").as("height"), $"mean_px")
  }

  /** 64-bit average-hash (aHash) perceptual fingerprint per asset: the
    * decoded luma matrix is 8×8 nearest-neighbor-sampled (the
    * `resizeStub` kernel inlined) and each cell compares against the
    * global mean — bit = px·(h·w) > Σpx, an EXACT integer comparison
    * (never the double mean), so the fingerprint is engine- and
    * platform-independent. Runs in the real `mapPartitions` decode
    * batch (the extractFeatures shape): scan-stage, no shuffle.
    */
  def phashFingerprints(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, d).mapPartitions { it =>
      it.map { rec =>
        val img = decode(rec.content, rec.meta)
        val h = img.length
        val w = if (h == 0) math.max(1, rec.meta.width) else img(0).length
        val area = h.toLong * w
        var sum = 0L
        var r = 0
        while (r < h) {
          val row = img(r); var c = 0
          while (c < row.length) { sum += row(c); c += 1 }
          r += 1
        }
        var fp = 0L
        var b = 0
        while (b < 64) {
          val px =
            if (h == 0) 0L
            else img((b / 8) * h / 8)((b % 8) * w / 8).toLong
          if (px * area > sum) fp |= (1L << b)
          b += 1
        }
        (rec.doc_id, fp)
      }
    }.toDF("doc_id", "fp")
  }

  /** q188: perceptual-hash near-dup pairs — image dedup, the visual twin
    * of q23's SimHash: assets whose aHash fingerprints sit within
    * Hamming distance `maxHamming`. Exactly the SimHash pair machinery
    * (16-bit pigeonhole bands — complete for Hamming ≤ 3 — banded
    * equi-join, exact bit_count re-check); only the sketch differs
    * (decoded pixels instead of tokens). This is how a multimodal
    * corpus dedups re-encoded / resized copies of the same image that
    * byte-level fingerprints (q26) can never pair.
    *
    * Scale: fingerprints are scan-stage (one decode pass, memo-cached);
    * candidates come from the band equi-join — hash-partitioned on the
    * 16-bit band key, never an all-pairs join. The DuckDB oracle
    * replays the stub-decode aHash closed-form (the q171 byte
    * arithmetic) and checks the FULL quadratic pair set — the banded
    * join must reproduce it bit-for-bit (pigeonhole completeness).
    */
  /** phashFingerprints, memo-cached — the band explode and the re-check
    * join both fold over one materialization.
    */
  private[graft] val phashFpCached = shared("phashFp", cache = true)(phashFingerprints)

  def phashPairs(spark: SparkSession, d: String, maxHamming: Int = 3): DataFrame = {
    import spark.implicits._
    import graft.functions.Hashing
    val fps = phashFpCached(spark, d)
    val bands = fps.select($"doc_id", $"fp",
        explode(Hashing.hammingBands($"fp")).as("hb"))
      .select($"doc_id", $"fp", $"hb.band".as("band"), $"hb.key".as("key"))
    bands.as("a").join(bands.as("b"),
        $"a.band" === $"b.band" && $"a.key" === $"b.key" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("x"), $"b.doc_id".as("y"),
        Hashing.hamming($"a.fp", $"b.fp").as("dist"))
      .distinct()
      .filter($"dist" <= maxHamming)
  }

  /** The full pipeline as one oracle-friendly query: media → features →
    * relational aggregate per width bucket. Exercises binary columns,
    * mapPartitions batching, and the downstream shuffle.
    */
  def featureSummary(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    extractFeatures(mediaTable(spark, d)).toDF()
      .groupBy(($"width" % 8).as("width_bucket"))
      .agg(count(lit(1)).as("n"),
        sum($"n_bytes").as("total_bytes"),
        max($"height").as("max_height"))
  }

  /** q207: aspect-ratio bucketed batch-packing plan — assets are
    * bucketed by ⌊log₂(16·w/h)⌋ (the standard variable-aspect training
    * trick: batch only shape-compatible images so per-batch padding is
    * small), ordered by doc_id within bucket, cut into batches of
    * `batch`, and each batch pads to its own max width × max height.
    * Per bucket: asset/batch counts, total pad pixels, and the
    * 1e6-quantized pad share of batch pixels — the number that tells a
    * multimodal pipeline whether its bucketing is tight enough before
    * it burns accelerator hours on padding.
    *
    * Exactness: width/height are the declared metadata derivation
    * (q170/q171's n_chars%64+1 and ceil-division, height clamped ≥1 so
    * empty payloads still batch); log₂ via length(bin(x))−1 (exact on
    * ints, identical in both engines); everything integer until one
    * final division.
    *
    * Scale: ~11 log buckets over the whole corpus = maximally hot
    * groups, so the batch index comes from `Ranks.groupRowNumber`
    * (range-partitioned on (bucket, doc_id) — no bucket ever lands on
    * one partition); both downstream aggregates are map-side
    * combinable; output is |buckets| rows.
    */
  /** q219: batch-size sweep for the q207 aspect-bucketed packing —
    * per B ∈ {8, 16, 32, 64}: batches, pad pixels, 1e6-quantized pad
    * share. The tuning datasheet next to q207's single answer (the
    * q192 probe-sweep pattern): padding waste falls with B only while
    * buckets stay full — the knee is the batch size to ship.
    *
    * Shape: ONE `groupRowNumber` ranking serves every B — batch_id =
    * (rn−1) div B is a pure function of the same rank — so the sweep
    * is a ×4 broadcast fan-out off one shared rank table, then the
    * same two bounded aggregates per B.
    */
  def batchSizeSweep(spark: SparkSession, d: String,
      sizes: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    import spark.implicits._
    val rn = graft.operators.Ranks.groupRowNumber(
      assetGeometry(spark, d), "rn", Seq($"bucket"), Seq($"doc_id"))
    val bs = sizes.map(_.toLong).toDF("b")
    val perBatch = rn.crossJoin(broadcast(bs))
      .withColumn("batch_id", expr("(rn - 1) div b"))
      .groupBy($"b", $"bucket", $"batch_id")
      .agg(max($"w").as("mw"), max($"h").as("mh"),
        count(lit(1)).as("cnt"), sum($"w" * $"h").as("px"))
    perBatch.groupBy($"b")
      .agg(sum($"cnt").as("n_assets"), count(lit(1)).as("n_batches"),
        sum($"mw" * $"mh" * $"cnt").as("batch_px"), sum($"px").as("asset_px"))
      .select($"b", $"n_assets", $"n_batches",
        ($"batch_px" - $"asset_px").as("pad_px"),
        round(($"batch_px" - $"asset_px").cast("double")
          / $"batch_px".cast("double") * lit(1000000.0))
          .cast("long").as("pad_ratio_q6"))
  }

  /** The shared (doc_id, w, h, bucket) geometry projection of the
    * aspect-batching family (q207/q219).
    */
  private def assetGeometry(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    documents(spark, d)
      .select($"doc_id",
        expr("octet_length(text)").cast("long").as("n_bytes"),
        (($"n_chars" % 64) + 1).cast("long").as("w"))
      .withColumn("h", greatest(expr("(n_bytes + w - 1) div w"), lit(1L)))
      .withColumn("bucket",
        (length(bin(greatest(expr("(w * 16) div h"), lit(1L)))) - 1).cast("long"))
      .select($"doc_id", $"w", $"h", $"bucket")
  }

  def aspectBatching(spark: SparkSession, d: String, batch: Int = 32): DataFrame = {
    import spark.implicits._
    val rn = graft.operators.Ranks.groupRowNumber(
      assetGeometry(spark, d), "rn", Seq($"bucket"), Seq($"doc_id"))
    val perBatch = rn
      .withColumn("batch_id", expr(s"(rn - 1) div $batch"))
      .groupBy($"bucket", $"batch_id")
      .agg(max($"w").as("mw"), max($"h").as("mh"),
        count(lit(1)).as("cnt"), sum($"w" * $"h").as("px"))
    perBatch.groupBy($"bucket")
      .agg(sum($"cnt").as("n_assets"), count(lit(1)).as("n_batches"),
        sum($"mw" * $"mh" * $"cnt").as("batch_px"), sum($"px").as("asset_px"))
      .select($"bucket", $"n_assets", $"n_batches",
        ($"batch_px" - $"asset_px").as("pad_px"),
        round(($"batch_px" - $"asset_px").cast("double")
          / $"batch_px".cast("double") * lit(1000000.0))
          .cast("long").as("pad_ratio_q6"))
  }
}
