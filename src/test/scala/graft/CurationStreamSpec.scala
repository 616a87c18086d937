package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.CurationStream
import graft.streaming.CurationStream.{Admitted, StreamDoc}

/** The continuous-ingest curation pipeline: scan-stage quality gate,
  * watermark-bounded content dedup, keyed per-source budget admission —
  * the streaming twin of operators.Pipeline.curateCorpus.
  */
class CurationStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  def ts(s: String) = Timestamp.valueOf(s)

  test("gate, content-dedup, and budget admission compose end to end") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[StreamDoc]
    val query = CurationStream.curate(input.toDF(), budget = 20L)
      .writeStream.format("memory").queryName("cur_stream")
      .outputMode("append").start()
    try {
      input.addData(
        StreamDoc(1, ts("2024-01-01 00:00:00"),
          "alpha beta gamma delta epsilon zeta", "web"),
        // top-token fraction 0.9 > 0.8 → gated
        StreamDoc(2, ts("2024-01-01 00:01:00"),
          "spam spam spam spam spam spam spam spam spam ham", "web"),
        // 2 tokens < 5 → gated
        StreamDoc(3, ts("2024-01-01 00:02:00"), "too short", "web"),
        // exact content dup of doc 1 under a new id → deduped
        StreamDoc(4, ts("2024-01-01 00:03:00"),
          "alpha beta gamma delta epsilon zeta", "web"),
        StreamDoc(5, ts("2024-01-01 00:04:00"),
          "one two three four five six seven eight nine ten eleven twelve", "web"))
      query.processAllAvailable()
      input.addData(
        // web used 18 < 20 → admitted (takes it to 24)
        StreamDoc(6, ts("2024-01-01 00:10:00"), "aa bb cc dd ee ff", "web"),
        // web used 24 ≥ 20 → rejected
        StreamDoc(7, ts("2024-01-01 00:11:00"), "gg hh ii jj kk ll", "web"),
        // fresh source, fresh budget
        StreamDoc(8, ts("2024-01-01 00:12:00"), "mm nn oo pp qq rr ss", "news"))
      query.processAllAvailable()
      val rows = spark.table("cur_stream").as[Admitted].collect()
        .map(a => a.doc_id -> a).toMap
      assert(rows.keySet == Set(1L, 5L, 6L, 8L), rows.keySet.toString)
      assert(rows(1L) == Admitted(1, "web", 6, 6))
      assert(rows(5L) == Admitted(5, "web", 12, 18))
      assert(rows(6L) == Admitted(6, "web", 6, 24))
      assert(rows(8L) == Admitted(8, "news", 7, 7))
    } finally query.stop()
  }

  test("packStream state == batch packSequences on the real corpus, any batching") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    // the ingest contract: per-source monotone doc_id arrival (global
    // doc_id order satisfies it); batch boundaries placed arbitrarily
    val docs = graft.core.Tables.documents(spark, sf)
      .select($"doc_id", $"text", $"source").as[(Long, String, String)]
      .collect().sortBy(_._1)
      .map { case (id, text, src) =>
        StreamDoc(id, ts("2024-01-01 00:00:00"), text, src)
      }
    TestSpark.withRocksDb {
      val input = MemoryStream[StreamDoc]
      val query = CurationStream.packStream(input.toDS())
        .writeStream.format("memory").queryName("pack_stream")
        .outputMode("append").start()
      try {
        docs.grouped(137).foreach { chunk =>
          input.addData(chunk.toIndexedSeq: _*)
          query.processAllAvailable()
        }
        val got = spark.table("pack_stream")
          .as[CurationStream.PackAssign].collect()
          .map(p => (p.doc_id, p.source, p.n_toks, p.pack_id, p.pack_offset))
          .toSet
        val want = graft.operators.Sampling.packSequences(spark, sf)
          .as[(Long, String, Long, Long, Long)].collect().toSet
        assert(got == want,
          "streaming pack assignment must be row-identical to the batch layout")
        assert(TestSpark.streamingPlan(query).contains("TransformWithState"))
      } finally query.stop()
    }
  }

  test("ordered admission folds a skewed out-of-order batch in event-time order") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // value + list state + timers = multiple column families → RocksDB
    // provider (the production choice for transformWithState anyway)
    TestSpark.withRocksDb {
      val input = MemoryStream[StreamDoc]
      val query = CurationStream
        .budgetAdmissionOrdered(input.toDS(), budget = 20L, watermark = "1 minute")
        .writeStream.format("memory").queryName("cur_ordered")
        .outputMode("append").start()
      try {
        val base = ts("2024-01-01 00:00:00").getTime
        // one hot source floods a single micro-batch, arriving in REVERSE
        // doc order — rows buffer into list state one at a time and the
        // admission fold must still run in (ts, doc_id) order
        val hot = (500 to 1 by -1).map { i =>
          StreamDoc(i.toLong, new Timestamp(base + i * 1000L), "tok tok tok", "web")
        }
        input.addData(hot: _*)
        query.processAllAvailable()
        // the first watermark advance (maxTs − 1 min) already matures docs
        // 1..440 and the timer batch flushes them: the budget prefix is out
        assert(spark.table("cur_ordered").count() == 7)
        input.addData(StreamDoc(9999, new Timestamp(base + 3600 * 1000L),
          "probe probe probe probe", "other"))
        query.processAllAvailable()
        val rows = spark.table("cur_ordered").as[Admitted].collect()
          .filter(_.source == "web").sortBy(_.doc_id)
        // 3 tokens per doc, budget 20: docs 1..7 admitted (used 3,6,…,21),
        // doc 8 onward rejected — the event-time prefix, not arrival order
        assert(rows.map(_.doc_id).toSeq == (1L to 7L), rows.mkString(", "))
        assert(rows.map(_.budget_used).toSeq == (1 to 7).map(_ * 3L))
        val plan = TestSpark.streamingPlan(query)
        assert(plan.contains("TransformWithState"), plan)
        // the BATCH projection (q92's fold) must reproduce the live
        // operator's admitted set row-for-row on the same skewed fixture
        val batch = graft.operators.StreamProjections.orderedAdmissionFold(
            hot.toSeq.toDF("doc_id", "ts", "text", "source")
              .select($"doc_id", $"source",
                lit(3L).as("n_tokens"), $"ts".cast("long").as("ts_s")),
            budget = 20L)
          .as[Admitted].collect().sortBy(_.doc_id)
        assert(batch.map(r => (r.doc_id, r.n_tokens, r.budget_used)).toSeq ==
          rows.map(r => (r.doc_id, r.n_tokens, r.budget_used)).toSeq,
          "batch fold must equal the streaming admission")
      } finally query.stop()
    }
  }

  test("incremental manifest: streamed arrivals equal the batch projection (state law)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.streaming.CurationStream.{DocArrival, ManifestRow, ManifestSnap}
    val sf = "/root/testdata/sf0.001"
    // the last build's state: the batch manifest restricted to the 90%
    // "already cataloged" bucket — exactly what incrementalManifestBatch
    // joins relationally
    // materialized rows, not the live join lineage: the snapshot a real
    // deployment seeds from is the last build's WRITTEN table (and the
    // manifest join's PartitioningCollection trips a Spark initial-state
    // co-partitioning requirement if passed as a raw plan)
    val snapRows = graft.operators.Pipeline.trainingManifest(spark, sf)
      .filter(org.apache.spark.sql.functions.pmod(
        graft.functions.Hashing.md5Bits32(
          org.apache.spark.sql.functions.concat(
            org.apache.spark.sql.functions.lit("incr:"),
            $"doc_id".cast("string")), 1),
        org.apache.spark.sql.functions.lit(100L)) < 90)
      .select($"doc_id", $"split", $"decile", $"cluster_id", $"emb_label")
      .as[(Long, String, Long, Long, Option[Int])].collect()
      .map { case (id, sp, dc, cl, el) => (id, ManifestSnap(sp, dc, cl, el)) }
    val snapshot = spark.createDataset(snapRows.toIndexedSeq)
    val arrivals = graft.core.Tables.documents(spark, sf)
      .select($"doc_id", $"lang", $"source", $"n_chars")
      .as[(Long, String, String, Long)].collect()
      .map { case (id, l, s, n) =>
        DocArrival(id, ts("2024-01-01 00:00:00"), l, s, n) }
    TestSpark.withRocksDb {
      val input = MemoryStream[DocArrival]
      val query = CurationStream.incrementalManifest(input.toDS(), snapshot)
        .writeStream.format("memory").queryName("incr_manifest")
        .outputMode("append").start()
      try {
        // arbitrary micro-batching must not matter: state is read-only per key
        arrivals.grouped(math.max(1, arrivals.length / 3 + 1)).foreach { chunk =>
          input.addData(chunk.toIndexedSeq: _*)
          query.processAllAvailable()
        }
        val streamed = spark.table("incr_manifest").as[ManifestRow].collect().toSet
        val batch = graft.operators.Pipeline.incrementalManifestBatch(spark, sf)
          .as[ManifestRow].collect().toSet
        assert(streamed == batch, "streamed manifest drifted from the batch projection")
        assert(batch.exists(_.is_new) && batch.exists(!_.is_new),
          "fixture must exercise both the state-hit and fallback paths")
      } finally query.stop()
    }
  }

  test("aspectBatchStream: aggregated assignments == batch q207") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val assets = graft.core.Tables.documents(spark, sf)
      .select($"doc_id", $"n_chars",
        org.apache.spark.sql.functions.expr("octet_length(text)").cast("long"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
      .map { case (id, nc, nb) => CurationStream.AssetIn(id, nc, nb) }
    val want = graft.multimodal.Multimodal.aspectBatching(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSet

    def aggregated(table: String): Set[(Long, Long, Long, Long, Long)] = {
      val asg = spark.table(table).as[CurationStream.AspectAssign].collect()
      asg.groupBy(a => (a.bucket, a.batch_id)).toSeq
        .map { case ((b, _), g) =>
          (b, g.length.toLong, g.map(_.w).max * g.map(_.h).max * g.length,
            g.map(x => x.w * x.h).sum)
        }
        .groupBy(_._1).map { case (b, cells) =>
          val n = cells.map(_._2).sum
          val batchPx = cells.map(_._3).sum
          val assetPx = cells.map(_._4).sum
          val pad = batchPx - assetPx
          (b, n, cells.length.toLong, pad,
            BigDecimal(pad.toDouble / batchPx.toDouble * 1000000.0)
              .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
        }.toSet
    }

    TestSpark.withRocksDb {
      val input = MemoryStream[CurationStream.AssetIn]
      val query = CurationStream.aspectBatchStream(input.toDS())
        .writeStream.format("memory").queryName("aspect_stream")
        .outputMode("append").start()
      try {
        assets.grouped(89).foreach { chunk =>
          input.addData(chunk.toIndexedSeq: _*)
          query.processAllAvailable()
        }
        assert(aggregated("aspect_stream") == want,
          "stream assignments must aggregate to the batch plan")
        assert(TestSpark.streamingPlan(query).contains("TransformWithState"))
      } finally query.stop()
    }
  }

  test("shardDiversityStream: final per-shard emissions equal the q213 batch rows") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val docs = graft.core.Tables.documents(spark, sf)
      .select($"doc_id", $"text", $"source").as[(Long, String, String)]
      .collect().sortBy(_._1)
      .map { case (id, text, src) =>
        CurationStream.StreamDoc(id, ts("2024-01-01 00:00:00"), text, src)
      }
    TestSpark.withRocksDb {
      val input = MemoryStream[CurationStream.StreamDoc]
      val query = CurationStream.shardDiversityStream(input.toDS())
        .writeStream.format("memory").queryName("shard_div_stream")
        .outputMode("update").start()
      try {
        docs.grouped(127).foreach { chunk =>
          input.addData(chunk.toIndexedSeq: _*)
          query.processAllAvailable()
        }
        val rows = spark.table("shard_div_stream")
          .as[CurationStream.ShardDivRow].collect()
        val fin = rows.groupBy(_.shard).toSeq.map { case (_, rs) =>
          val last = rs.maxBy(_.state_n)
          (last.shard, last.n_docs, last.n_sources, last.entropy_q12)
        }.toSet
        val batch = graft.operators.Sharding.shardDiversity(spark, sf)
          .as[(Long, Long, Long, Long)].collect().toSet
        assert(fin == batch,
          "final shard-mix emissions must equal the batch diversity audit")
      } finally query.stop()
    }
  }

  test("ruleMatrixStream: final per-source emissions equal the q222 batch rows") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val docs = graft.core.Tables.documents(spark, sf)
      .select($"doc_id", $"text", $"source").as[(Long, String, String)]
      .collect().sortBy(_._1)
      .map { case (id, text, src) =>
        CurationStream.StreamDoc(id, ts("2024-01-01 00:00:00"), text, src)
      }
    TestSpark.withRocksDb {
      val input = MemoryStream[CurationStream.StreamDoc]
      val query = CurationStream.ruleMatrixStream(input.toDS())
        .writeStream.format("memory").queryName("rule_matrix_stream")
        .outputMode("update").start()
      try {
        docs.grouped(113).foreach { chunk =>
          input.addData(chunk.toIndexedSeq: _*)
          query.processAllAvailable()
        }
        val rows = spark.table("rule_matrix_stream")
          .as[CurationStream.RuleMatrixRow].collect()
        val fin = rows.groupBy(_.source).toSeq.map { case (_, rs) =>
          val last = rs.maxBy(_.n_docs)
          (last.source, last.n_docs, last.fail_words, last.fail_mean,
            last.fail_alpha, last.fail_sym, last.fail_req, last.n_pass,
            last.pass_rate_q6)
        }.toSet
        val batch = graft.operators.Text.sourceRuleMatrix(spark, sf)
          .as[(String, Long, Long, Long, Long, Long, Long, Long, Long)]
          .collect().toSet
        assert(fin == batch,
          "final rule-matrix emissions must equal the q222 batch audit")
      } finally query.stop()
    }
  }

  test("ruleAblationStream: summed final emissions assemble the q228 batch table") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val docs = graft.core.Tables.documents(spark, sf)
      .select($"doc_id", $"text", $"source").as[(Long, String, String)]
      .collect().sortBy(_._1)
      .map { case (id, text, src) =>
        CurationStream.StreamDoc(id, ts("2024-01-01 00:00:00"), text, src)
      }
    TestSpark.withRocksDb {
      val input = MemoryStream[CurationStream.StreamDoc]
      val query = CurationStream.ruleAblationStream(input.toDS())
        .writeStream.format("memory").queryName("rule_ablation_stream")
        .outputMode("update").start()
      try {
        docs.grouped(97).foreach { chunk =>
          input.addData(chunk.toIndexedSeq: _*)
          query.processAllAvailable()
        }
        val fin = spark.table("rule_ablation_stream")
          .as[CurationStream.AblationRow].collect()
          .groupBy(_.source).values.map(_.maxBy(_.n_docs)).toSeq
        val nDocs = fin.map(_.n_docs).sum
        // the additive counters assemble the corpus-level 5-row ablation
        val assembled = Seq(
          ("words", fin.map(_.fail_words).sum, fin.map(_.uniq_words).sum),
          ("mean", fin.map(_.fail_mean).sum, fin.map(_.uniq_mean).sum),
          ("alpha", fin.map(_.fail_alpha).sum, fin.map(_.uniq_alpha).sum),
          ("sym", fin.map(_.fail_sym).sum, fin.map(_.uniq_sym).sum),
          ("req", fin.map(_.fail_req).sum, fin.map(_.uniq_req).sum)
        ).map { case (r, f, u) =>
          (r, f, u, f - u,
            BigDecimal(u.toDouble / nDocs * 1000000.0)
              .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
        }.toSet
        val batch = graft.operators.Text.ruleAblation(spark, sf)
          .as[(String, Long, Long, Long, Long)].collect().toSet
        assert(assembled == batch,
          "summed ablation emissions must equal the q228 batch table")
      } finally query.stop()
    }
  }

  test("posEntropyStream: final MapState emissions equal the q233 batch rows") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val docs = graft.core.Tables.documents(spark, sf)
      .select($"doc_id", $"text", $"source").as[(Long, String, String)]
      .collect().sortBy(_._1)
      .map { case (id, text, src) =>
        CurationStream.StreamDoc(id, ts("2024-01-01 00:00:00"), text, src)
      }
    TestSpark.withRocksDb {
      val input = MemoryStream[CurationStream.StreamDoc]
      val query = CurationStream.posEntropyStream(input.toDS())
        .writeStream.format("memory").queryName("pos_entropy_stream")
        .outputMode("update").start()
      try {
        docs.grouped(131).foreach { chunk =>
          input.addData(chunk.toIndexedSeq: _*)
          query.processAllAvailable()
        }
        val fin = spark.table("pos_entropy_stream")
          .as[CurationStream.PosEntropyRow].collect()
          .groupBy(_.pos).values.map(_.maxBy(_.n_docs)).map { r =>
            (r.pos, r.n_docs, r.n_types, r.entropy_q6, r.top_token,
              r.top_count, r.top_frac_q6)
          }.toSet
        val batch = graft.operators.Text.positionalEntropy(spark, sf)
          .as[(Long, Long, Long, Long, String, Long, Long)].collect().toSet
        assert(fin == batch,
          "final positional-entropy emissions must equal the q233 batch rows")
      } finally query.stop()
    }
  }

  test("sourceQualityStream: final per-lang partials assemble the q249 batch panel") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    // stage 1 applied batch-side: same expression chain either way
    val docRows = CurationStream.qualityDocRows(
        graft.core.Tables.documents(spark, sf))
      .collect().sortBy(_.doc_id)
    TestSpark.withRocksDb {
      val input = MemoryStream[CurationStream.QualityDocIn]
      val query = CurationStream.sourceQualityStream(input.toDS())
        .writeStream.format("memory").queryName("source_quality_stream")
        .outputMode("update").start()
      try {
        docRows.grouped(docRows.length / 3 + 1).foreach { chunk =>
          input.addData(chunk.toIndexedSeq: _*)
          query.processAllAvailable()
        }
        val rows = spark.table("source_quality_stream")
          .as[CurationStream.QualityPanelRow].collect()
        // final emission per language = the one with that lang's max n
        val fin = rows.groupBy(_.lang).values.flatMap { rs =>
          val lastN = rs.map(_.state_n).max
          rs.filter(_.state_n == lastN)
        }.toSeq
        // the stateless cross-lang assembly the batch panel ends with
        val got = fin.groupBy(_.source).map { case (src, a) =>
          val nd = a.map(_.n_docs).sum
          val sp = a.map(_.sum_prq).sum
          val nt = a.map(_.n_top_decile).sum
          val mean = BigDecimal(sp.toDouble / nd.toDouble)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
          val share = BigDecimal(nt.toDouble / nd.toDouble * 1000000.0)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
          (src, nd, mean, nt, share)
        }.toSet
        val batch = graft.operators.Text.sourceQualityPanel(spark, sf)
          .as[(String, Long, Long, Long, Long)].collect().toSet
        assert(got == batch,
          "assembled final emissions must equal the q249 batch panel")
        assert(batch.nonEmpty)
      } finally query.stop()
    }
  }

  test("piiStream: final per-source emissions equal the q244 batch panel") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    // stage 1 applied batch-side: same regexp_count chain either way
    val docRows = CurationStream.piiDocRows(
        graft.core.Tables.documents(spark, sf))
      .collect().sortBy(_.doc_id)
    TestSpark.withRocksDb {
      val input = MemoryStream[CurationStream.PiiDocIn]
      val query = CurationStream.piiStream(input.toDS())
        .writeStream.format("memory").queryName("pii_stream")
        .outputMode("update").start()
      try {
        docRows.grouped(docRows.length / 3 + 1).foreach { chunk =>
          input.addData(chunk.toIndexedSeq: _*)
          query.processAllAvailable()
        }
        val rows = spark.table("pii_stream")
          .as[CurationStream.PiiPanelRow].collect()
        // final emission per source = the one with that source's max n_docs
        val got = rows.groupBy(_.source).values.map { rs =>
          val f = rs.maxBy(_.n_docs)
          (f.source, f.n_docs, f.n_flagged, f.sum_email, f.sum_phone,
            f.sum_ssn, f.sum_ip, f.exposure_q6)
        }.toSet
        val batch = graft.operators.Text.piiBySource(spark, sf)
          .as[(String, Long, Long, Long, Long, Long, Long, Long)]
          .collect().toSet
        assert(got == batch,
          "final piiStream emissions must equal the q244 batch panel")
        assert(batch.nonEmpty)
      } finally query.stop()
    }
  }

  test("sourceMassStream: assembled final partials equal the q241 batch row") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val massRows = graft.core.Tables.documents(spark, sf)
      .select($"source", $"n_chars").as[CurationStream.MassIn]
      .collect().sortBy(_.source)
    TestSpark.withRocksDb {
      val input = MemoryStream[CurationStream.MassIn]
      val query = CurationStream.sourceMassStream(input.toDS())
        .writeStream.format("memory").queryName("mass_stream")
        .outputMode("update").start()
      try {
        massRows.grouped(massRows.length / 3 + 1).foreach { chunk =>
          input.addData(chunk.toIndexedSeq: _*)
          query.processAllAvailable()
        }
        val fin = spark.table("mass_stream")
          .as[CurationStream.MassPartialRow].collect()
          .groupBy(_.source).values.map(_.maxBy(_.n_docs)).toSeq
        // the stateless cross-source assembly the batch query ends with
        val ord = fin.sortBy(p => (-p.mass, p.source))
        val tot = ord.map(_.mass).sum
        val sq = ord.map(p => BigInt(p.mass) * BigInt(p.mass)).sum
        val cums = ord.scanLeft(0L)(_ + _.mass).tail
        def minRank(pred: Long => Boolean): Long =
          (cums.indexWhere(pred) + 1).toLong
        val hhi = BigDecimal(sq.toDouble / (tot.toDouble * tot.toDouble)
            * 1000000000.0)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        val topShare = BigDecimal(ord.head.mass.toDouble / tot.toDouble
            * 1000000.0)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        val got = (ord.length.toLong, tot, hhi,
          minRank(c => c * 2 >= tot), minRank(c => c * 10 >= 9 * tot),
          ord.head.source, topShare)
        val batch = graft.operators.Sampling.sourceConcentration(spark, sf)
          .as[(Long, Long, Long, Long, Long, String, Long)]
          .collect().head
        assert(got == batch,
          "assembled final sourceMassStream partials must equal the q241 row")
      } finally query.stop()
    }
  }

  test("pii twin RESTART: kill mid-stream, resume from checkpoint, resumed-final == batch") {
    import spark.implicits._
    import graft.streaming.CurationStream.PiiDocIn
    // exactly-once for the ValueState twin family, rehearsed for real
    // (the q129 sketch-twin restart's sibling): file source + RocksDB
    // checkpoint, killed after half the feed, resumed over the same
    // checkpointLocation — the resumed panel must carry pre-kill counts
    TestSpark.withRocksDb {
      val base = java.nio.file.Files.createTempDirectory("graft_q244_restart_").toString
      val (inDir, ckpt) = (s"$base/in", s"$base/ckpt")
      new java.io.File(inDir).mkdirs()
      val rnd = new scala.util.Random(23)
      val all = Seq.tabulate(240) { i =>
        PiiDocIn(i.toLong, s"s${i % 4}",
          if (rnd.nextInt(5) == 0) rnd.nextInt(3).toLong + 1L else 0L,
          if (rnd.nextInt(7) == 0) 1L else 0L,
          if (rnd.nextInt(11) == 0) 1L else 0L,
          if (rnd.nextInt(3) == 0) rnd.nextInt(2).toLong else 0L)
      }
      def addFile(n: Int, rows: Seq[PiiDocIn]): Unit = {
        val stage = s"$base/stage$n"
        rows.toDS().coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(s"$inDir/batch$n.parquet"))
      }
      // foreachBatch: the recoverable sink (memory sink refuses checkpoint
      // recovery); each leg collects its own emissions
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[
        CurationStream.PiiPanelRow]()
      def start() = CurationStream.piiStream(
          spark.readStream
            .schema(org.apache.spark.sql.Encoders.product[PiiDocIn].schema)
            .parquet(inDir).as[PiiDocIn])
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .foreachBatch {
          (ds: org.apache.spark.sql.Dataset[CurationStream.PiiPanelRow],
              _: Long) => ds.collect().foreach(buf.add)
        }
        .start()
      addFile(1, all.take(150))
      val q1 = start()
      q1.processAllAvailable(); q1.stop() // the kill
      buf.clear() // only resumed emissions count
      addFile(2, all.drop(150)) // round-robin sources: every key re-emits
      val q2 = start()
      try {
        q2.processAllAvailable()
        import scala.jdk.CollectionConverters._
        val fin = buf.asScala.toSeq
          .groupBy(_.source).map { case (_, rs) => rs.maxBy(_.n_docs) }
          .map(r => (r.source, r.n_docs, r.n_flagged, r.sum_email,
            r.sum_phone, r.sum_ssn, r.sum_ip, r.exposure_q6)).toSet
        val expected = all.groupBy(_.source).map { case (s, ds) =>
          val flagged = ds.count(d =>
            d.n_email > 0 || d.n_phone > 0 || d.n_ssn > 0 || d.n_ip > 0).toLong
          val exposure = BigDecimal(
              flagged.toDouble / ds.length.toDouble * 1000000.0)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
          (s, ds.length.toLong, flagged, ds.map(_.n_email).sum,
            ds.map(_.n_phone).sum, ds.map(_.n_ssn).sum, ds.map(_.n_ip).sum,
            exposure)
        }.toSet
        assert(fin == expected,
          "resumed-final PII panel must equal the batch fold over the WHOLE feed")
        fin.foreach { case (s, n, _, _, _, _, _, _) =>
          assert(n > all.drop(150).count(_.source == s).toLong,
            s"$s: resumed n_docs $n must include pre-kill rows")
        }
      } finally q2.stop()
    }
  }
}
