package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.operators.{Contamination, Dedup, Sampling, Sharding, Similarity, Text, Windowed}

/** The contamination / clustering / tokenizer-prep operator family
  * (q59–q66). Each has a full DuckDB oracle; these tests pin the
  * engine-side invariants the hash compare can't express — PII regexes
  * against adversarial strings the synthetic corpus lacks, Lloyd's
  * monotonicity, conservation laws between operators.
  */
class PipelineOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("decontaminate covers exactly the non-eval docs, flag ⇔ overlap") {
    import spark.implicits._
    val out = Contamination.decontaminate(spark, sf)
      .as[(Long, Long, Boolean)].collect()
    assert(out.length < 500 && out.length > 400) // ~5% withheld as eval
    out.foreach { case (id, n, flag) =>
      assert(n >= 0 && flag == (n > 0), s"doc $id n=$n flag=$flag")
    }
  }

  test("substringDecontaminate: runs bound coverage; agrees with the n-gram form") {
    import spark.implicits._
    val out = Contamination.substringDecontaminate(spark, sf)
      .as[(Long, Long, Long, Long, Boolean)].collect()
    val ngram = Contamination.decontaminate(spark, sf)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> r._2).toMap
    assert(out.length == ngram.size, "same train/eval partition as q59")
    out.foreach { case (id, n, mx, cov, flag) =>
      assert(mx <= n && cov <= n && mx <= cov || (mx == 0 && cov == 0), s"doc $id")
      assert(flag == (mx >= 8), s"doc $id flag")
      // an 8-token verbatim run contains 5-gram shingles, so any doc the
      // substring form flags must also overlap in q59's distinct-5-gram
      // count (the converse is deliberately weaker — that is the point)
      if (flag) assert(ngram(id) > 0, s"doc $id: substring hit but no 5-gram overlap")
    }
    assert(out.exists(_._5), "planted twins straddling the split must flag")
  }

  test("boilerplate fractions are consistent and dictionary is honest") {
    import spark.implicits._
    val rows = Contamination.boilerplate(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, n, b, f) =>
      assert(b <= n && math.abs(f - b.toDouble / n) < 1e-15, s"doc $id")
    }
    // the word-soup corpus repeats trigrams across docs — some must flag
    assert(rows.exists(_._3 > 0), "no boilerplate found in a stuttering corpus")
  }

  test("piiScan counts and redacts adversarial strings") {
    import spark.implicits._
    val df = Seq(
      (1L, "contact bob.smith+spam@example.co.uk or 555-123-4567 now"),
      (2L, "ssn 123-45-6789 from host 10.0.255.1 and 192.168.1.1"),
      (3L, "no pii here at all"),
      (4L, "dotted phone 555.123.4567 is not an ip")
    ).toDF("doc_id", "text")
    val counts = graft.functions.TextFunctions.PiiPatterns.map { case (k, p) =>
      regexp_count($"text", lit(p)).cast("long").as(s"n_$k")
    }
    val out = df.select($"doc_id" +: counts :+
        graft.functions.TextFunctions.piiRedact($"text").as("red"): _*)
      .as[(Long, Long, Long, Long, Long, String)].collect().sortBy(_._1)
    assert(out(0) == ((1L, 1L, 1L, 0L, 0L,
      "contact <EMAIL> or <PHONE> now")))
    assert(out(1) == ((2L, 0L, 0L, 1L, 2L,
      "ssn <SSN> from host <IP> and <IP>")))
    assert(out(2) == ((3L, 0L, 0L, 0L, 0L, "no pii here at all")))
    // dotted phone consumed by the earlier phone pass, not the IP pass
    assert(out(3) == ((4L, 0L, 1L, 0L, 0L,
      "dotted phone <PHONE> is not an ip")))
    // corpus query runs clean (all-zero counts on the synthetic corpus)
    val corpus = Text.piiScan(spark, sf)
    assert(corpus.agg(sum($"n_email") + sum($"n_phone")).head().getLong(0) == 0L)
  }

  test("kmeans assigns every vector to a seed cluster, Lloyd's improves") {
    import spark.implicits._
    val total = spark.read.parquet(s"$sf/embeddings.parquet").count()
    val a3 = Similarity.kmeansAssign(spark, sf, k = 8, iters = 3)
      .as[(Long, Long, Long)].collect()
    assert(a3.length == total)
    assert(a3.map(_._2).toSet.subsetOf((0L until 8L).toSet))
    a3.foreach { case (_, _, d2) => assert(d2 >= 0L) }
    val a1 = Similarity.kmeansAssign(spark, sf, k = 8, iters = 1)
      .as[(Long, Long, Long)].collect()
    val (s1, s3) = (a1.map(_._3).sum, a3.map(_._3).sum)
    // centroid re-quantization can cost a rounding hair; never 1% at dim 64
    assert(s3 <= s1 + s1 / 100, s"Lloyd's regressed: iter1 $s1 → iter3 $s3")
  }

  test("centroidOutliers flags exactly the ceil(5%) per label") {
    import spark.implicits._
    val rows = Similarity.centroidOutliers(spark, sf)
      .as[(Long, Int, Double, Boolean)].collect()
    val byLabel = rows.groupBy(_._2)
    byLabel.foreach { case (label, rs) =>
      val expect = math.ceil(0.05 * rs.length).toLong
      assert(rs.count(_._4) == expect, s"label $label")
      rs.foreach { case (_, _, c, _) => assert(c >= -1.0 && c <= 1.0) }
      // flagged cosines never exceed unflagged ones
      val fMax = rs.filter(_._4).map(_._3).max
      val uMin = rs.filterNot(_._4).map(_._3).min
      assert(fMax <= uMin, s"label $label outlier ordering broken")
    }
  }

  test("splitLeakage partitions the exact pair set") {
    import spark.implicits._
    val nPairs = Dedup.jaccardPairs(spark, sf).count()
    val cells = Sampling.splitLeakage(spark, sf)
      .as[(String, String, Long)].collect()
    assert(cells.map(_._3).sum == nPairs)
    val valid = Set("train", "validation", "test")
    cells.foreach { case (a, b, n) =>
      assert(valid(a) && valid(b) && a <= b && n > 0)
    }
  }

  test("materializeMixture copies obey the weight law") {
    import spark.implicits._
    val w = Sampling.domainMixture(spark, sf)
      .select($"lang", $"source", $"weight")
      .as[(String, String, Double)].collect()
      .map { case (l, s, wt) => (l, s) -> wt }.toMap
    val copies = Sampling.materializeMixture(spark, sf)
      .groupBy($"doc_id", $"lang", $"source")
      .agg(count(lit(1)).as("n"), max($"copy_id").as("mx"))
      .as[(Long, String, String, Long, Long)].collect()
    copies.foreach { case (id, l, s, n, mx) =>
      val wt = w((l, s))
      val base = math.floor(wt).toLong
      assert(n == mx, s"doc $id copy_ids not 1..n")
      assert(n == math.min(base, 10) || n == math.min(base + 1, 10),
        s"doc $id got $n copies for weight $wt")
    }
  }

  test("annIvfKmeans returns exact-cosine top-k within probed lists") {
    import spark.implicits._
    val ivf = Similarity.annIvfKmeans(spark, sf)
      .as[(Long, Long, Double, Int)].collect()
    val brute = Similarity.knnBruteForce(spark, sf)
      .as[(Long, Long, Double, Int)].collect()
      .map { case (q, n, c, _) => (q, n) -> c }.toMap
    assert(ivf.nonEmpty)
    // every reported cosine equals the exact brute-force cosine when the
    // same pair appears there (scoring is exact; only candidate
    // generation is approximate)
    ivf.foreach { case (q, n, c, rnk) =>
      assert(rnk >= 1 && rnk <= 5)
      brute.get((q, n)).foreach(bc => assert(bc == c, s"pair ($q,$n)"))
    }
    // trained quantizer must keep decent recall on the planted corpus
    val hits = ivf.count { case (q, n, _, _) => brute.contains((q, n)) }
    assert(hits >= brute.size / 2, s"recall ${hits}/${brute.size} too low")
  }

  test("substringDupCoverage bounds and near-dup visibility") {
    import spark.implicits._
    val rows = Dedup.substringDupCoverage(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.length == 500)
    rows.foreach { case (id, n, cov, f) =>
      assert(cov >= 0 && cov <= n, s"doc $id covered $cov of $n")
      assert(cov == 0 || cov >= 10, s"doc $id covered $cov < gram length")
      assert(math.abs(f - cov.toDouble / n) < 1e-15)
    }
    // planted near-dup docs share 10-token spans — coverage must see them
    assert(rows.count(_._3 > 0) >= 10, "planted near-dups invisible")
  }

  test("surprisal sums are exact integer recompositions") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", split(lower($"text"), "\\s+").as("ws"))
      .as[(Long, Seq[String])].collect()
    val counts = docs.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val total = counts.values.sum.toDouble
    val sq = counts.map { case (w, c) =>
      w -> math.round(-(math.log(c / total) / math.log(2.0)) * 1000000.0) }
    val out = Text.surprisal(spark, sf)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(out.length == 500)
    out.foreach { case (id, n, bits, mean) =>
      val ws = docs.find(_._1 == id).get._2
      assert(n == ws.length)
      assert(bits == ws.map(sq).sum, s"doc $id bits mismatch")
      assert(mean > 0 && mean < 30)
    }
  }

  test("writeShards materializes the shard plan sorted and partitioned") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_shards").toString
    Sharding.writeShards(spark, sf, out, nShards = 8)
    // shard= directory per non-empty shard, readable with pruning
    val back = spark.read.parquet(out)
    assert(back.count() == 500)
    // membership matches the deterministic plan exactly
    val plan = Sharding.shardPlan(spark, sf).select($"doc_id", $"shard")
      .as[(Long, Long)].collect().toMap
    val got = back.select($"doc_id", $"shard".cast("long"))
      .as[(Long, Long)].collect()
    got.foreach { case (id, s) => assert(plan(id) == s, s"doc $id in wrong shard") }
    // within each shard file, rows come back doc_id-sorted
    val byFile = back
      .select(input_file_name().as("f"), $"doc_id")
      .as[(String, Long)].collect().groupBy(_._1)
    byFile.foreach { case (f, rows) =>
      val ids = rows.map(_._2)
      assert(ids.sameElements(ids.sorted), s"unsorted shard file $f")
    }
  }

  test("writeShardsWithManifest: the commit record matches the data exactly") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_manifest").toString
    Sharding.writeShardsWithManifest(spark, sf, out, nShards = 8)
    val manifest = scala.io.Source.fromFile(s"$out/_manifest.json").getLines()
      .filter(_.nonEmpty).toSeq
    assert(manifest.length == 8)
    // cross-read: per-shard data stats must equal the committed manifest
    val back = spark.read.parquet(out)
      .select($"shard".cast("long").as("shard"), $"doc_id",
        length($"text").cast("long").as("nc"))
      .groupBy($"shard")
      .agg(count(lit(1)).as("n"), min($"doc_id").as("mi"),
        max($"doc_id").as("ma"), min($"nc").as("mc"), max($"nc").as("xc"))
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    manifest.foreach { line =>
      val kv = "\"(\\w+)\":(\\d+)".r.findAllMatchIn(line)
        .map(m => m.group(1) -> m.group(2).toLong).toMap
      val d = back(kv("shard"))
      assert(kv("n_docs") == d._2 && kv("min_id") == d._3 &&
        kv("max_id") == d._4 && kv("min_chars") == d._5 &&
        kv("max_chars") == d._6, s"manifest drift on shard ${kv("shard")}")
    }
  }

  test("incrementalDedup checks incoming against existing only") {
    import spark.implicits._
    val out = Dedup.incrementalDedup(spark, sf)
      .as[(Long, Boolean, Boolean, Boolean)].collect()
    // ~10% slice
    assert(out.length > 20 && out.length < 90, s"${out.length} incoming")
    out.foreach { case (id, e, n, keep) =>
      assert(keep == (!e && !n), s"doc $id flag algebra")
    }
    // the planted near-dup pairs make some incoming docs collide
    // with the existing corpus across the bucket boundary... unless the
    // 10% slice misses all of them — assert only the non-degenerate
    // direction that must always hold: most incoming docs survive
    assert(out.count(_._4) > out.length / 2, "most incoming docs must be kept")
  }

  test("tokenizeIds round-trips the token stream through the vocab") {
    import spark.implicits._
    val ids = Text.tokenizeIds(spark, sf)
      .as[(Long, Long, Long)].collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", split(lower($"text"), "\\s+").as("ws"))
      .as[(Long, Seq[String])].collect().toMap
    assert(ids.length == docs.values.map(_.length).sum)
    // ids are dense 1..V
    val v = ids.map(_._3).distinct.sorted
    assert(v.head == 1L && v.last == v.length)
    // frequency-ranked: id 1 is the corpus's most frequent word
    val freq = docs.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val id2w = ids.map(_._3).distinct.map { tid =>
      tid -> { val (d0, p0, _) = ids.find(_._3 == tid).get; docs(d0)(p0.toInt - 1) }
    }.toMap
    assert(freq(id2w(1L)) == freq.values.max)
    // positional decode matches the original text everywhere
    ids.foreach { case (d0, p, tid) =>
      assert(docs(d0)(p.toInt - 1) == id2w(tid), s"doc $d0 pos $p")
    }
  }

  test("bpeTrain reproduces an independent in-JVM BPE trainer, step for step") {
    import spark.implicits._
    val got = Text.bpeTrain(spark, sf, nMerges = 3)
      .as[(Long, String, String, String, Long)].collect().sortBy(_._1)
    // independent reference trainer: plain Scala, no string-replace trick
    var words: Map[Vector[String], Long] = spark.read
      .parquet(s"$sf/documents.parquet")
      .select(explode(split(lower($"text"), "\\s+")).as("w"))
      .as[String].collect()
      .filter(w => w.matches("[a-z]+") && w.length >= 2)
      .groupBy(identity).map { case (w, ws) =>
        w.map(_.toString).toVector -> ws.length.toLong
      }
    val expect = (1 to 3).map { step =>
      val counts = words.toSeq.flatMap { case (syms, n) =>
        syms.zip(syms.tail).map(p => p -> n)
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val ((l, r), cnt) = counts.minBy { case ((a, b), c) => (-c, a, b) }
      // left-to-right non-overlapping merge
      words = words.map { case (syms, n) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += l + r; i += 2
          } else { out += syms(i); i += 1 }
        }
        (out.result(), n)
      }
      (step.toLong, l, r, l + r, cnt)
    }
    assert(got.toSeq == expect, s"got ${got.toSeq} expected $expect")
  }

  test("bpeTrain releases its per-step word tables") {
    // a fresh copy of the corpus: its word tables match no plan an
    // earlier test cached, so any table left cached would persist anew
    val dir = java.nio.file.Files.createTempDirectory("graft-bpe").toString
    spark.read.parquet(s"$sf/documents.parquet").write
      .parquet(s"$dir/documents.parquet")
    val before = spark.sparkContext.getPersistentRDDs.size
    val got = Text.bpeTrain(spark, dir, nMerges = 3).collect()
    assert(got.length == 3)
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "bpeTrain left persisted RDDs behind")
  }

  test("approx-percentile variants honor their error-bound contracts") {
    import spark.implicits._
    val report = Text.corpusReportApprox(spark, sf)
      .as[(String, Long, Boolean, Boolean)].collect()
    assert(report.length == 20 && report.forall(r => r._3 && r._4), report.mkString(", "))
    val cal = Text.calibratedFilterApprox(spark, sf)
      .as[(Long, Boolean, Boolean)].collect()
    assert(cal.length == 1 && cal.head._1 == 500L && cal.head._2 && cal.head._3,
      cal.mkString(", "))
  }

  test("canonicalDocs picks the longest member of each cluster") {
    import spark.implicits._
    val labels = Dedup.dedupLabels(spark, sf)
      .as[(Long, Long)].collect().groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val chars = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect().toMap
    val got = Dedup.canonicalDocs(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(got.length == labels.size)
    got.foreach { case (cid, canon, size) =>
      val members = labels(cid)
      assert(members.size.toLong == size, s"cluster $cid size")
      assert(members.contains(canon), s"cluster $cid canonical not a member")
      val maxChars = members.map(chars).max
      assert(chars(canon) == maxChars, s"cluster $cid: canonical not longest")
      // deterministic tie-break: smallest doc_id among the longest
      assert(canon == members.filter(m => chars(m) == maxChars).min)
    }
  }

  test("interpSurprisal: JM smoothing only ever lowers the bigram surprisal bound") {
    import spark.implicits._
    val raw = Text.bigramSurprisal(spark, sf)
      .select($"doc_id", $"n_bigrams", $"mean_bigram_surprisal")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    val jm = Text.interpSurprisal(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    assert(jm.length == raw.size)
    val slack = -math.log(0.7) / math.log(2) + 1e-6 // −log₂λ + quantization
    jm.foreach { case (id, n, _, m) =>
      assert(n == raw(id)._2, s"doc $id bigram count")
      // p_JM ≥ λ·p_bigram ⇒ surprisal_JM ≤ surprisal_bigram − log₂λ
      assert(m <= raw(id)._3 + slack, s"doc $id: $m vs ${raw(id)._3}")
    }
  }

  test("backoffSurprisal reduces exactly to bigramSurprisal on a bigram-only corpus") {
    import spark.implicits._
    // every doc has exactly 2 tokens → no trigram level exists anywhere,
    // every scored position is the position-2 bigram, and with the LM
    // trained on the full corpus (trainFrac=100) every bigram is in-LM:
    // the backoff scorer must equal q77's bigram conditional bit-for-bit
    val rnd = new scala.util.Random(11)
    val docs = Seq.tabulate(300)(i =>
      (i.toLong, s"b${rnd.nextInt(40)} b${rnd.nextInt(40)}"))
    val dir = java.nio.file.Files.createTempDirectory("graft-bo").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val bo = Text.backoffSurprisal(spark, dir, trainFrac = 100)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    val bg = Text.bigramSurprisal(spark, dir)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(bo.length == 300 && bo.toSeq == bg.toSeq,
      "stupid backoff must collapse to the bigram conditional with no trigrams")
  }

  test("backoffSurprisal: held-out docs engage the backoff, train docs mostly don't") {
    import spark.implicits._
    // on the real corpus with the 80% train LM: scores exist for every
    // doc, are positive where scored, and n_scored == n_tokens − 1
    val nTok = graft.core.Tables.documents(spark, sf)
      .select($"doc_id", size(graft.functions.TextFunctions.tokens($"text")).cast("long"))
      .as[(Long, Long)].collect().toMap
    val rows = Text.backoffSurprisal(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.length == nTok.size)
    rows.foreach { case (id, n, bits, m) =>
      assert(n == math.max(0L, nTok(id) - 1), s"doc $id scored-position count")
      assert(n == 0 || (bits > 0 && m > 0), s"doc $id empty score")
    }
  }

  test("dsirWeights matches a full driver recomputation and separates the target domain") {
    import spark.implicits._
    val got = Text.dsirWeights(spark, sf)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"lang", split(lower($"text"), "\\s+").as("ws"))
      .as[(Long, String, Seq[String])].collect()
    val corpus = docs.flatMap(_._3)
    val c = corpus.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val ct = docs.filter(_._2 == "en").flatMap(_._3)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val (total, vs) = (corpus.length.toLong, c.size.toLong)
    // NOT c.keys.map(...).sum — Set.map dedups equal counts before summing
    val tt = ct.values.sum
    val sq = c.map { case (w, cw) =>
      // HALF_UP like Spark's round (math.round differs on negative .5s)
      w -> BigDecimal((log2((ct.getOrElse(w, 0L) + 1).toDouble / (tt + vs)) -
        log2(cw.toDouble / total)) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    docs.foreach { case (id, _, ws) =>
      val expect = ws.map(sq).sum
      assert(got(id)._3 == expect, s"doc $id logratio_q")
      assert(got(id)._2 == ws.length.toLong)
    }
    // the point of the feature: target-domain docs score higher on average
    val (en, other) = docs.partition(_._2 == "en")
    def avg(ds: Array[(Long, String, Seq[String])]) =
      ds.map(d0 => got(d0._1)._4).sum / ds.length
    assert(avg(en) > avg(other), s"${avg(en)} vs ${avg(other)}")
  }
  private def log2(x: Double) = math.log(x) / math.log(2)

  test("sourceDivergence: KL is non-negative and a drifted source stands out") {
    import spark.implicits._
    val real = Text.sourceDivergence(spark, sf)
      .as[(String, Long, Long, Double)].collect()
    assert(real.nonEmpty)
    real.foreach { case (s0, n, _, kl) =>
      assert(n > 0 && kl >= 0, s"source $s0: KL $kl must be >= 0 (Gibbs)") }
    // planted drift: two sources share a vocabulary, the third is disjoint
    val rnd = new scala.util.Random(17)
    def doc(pfx: String) = Seq.fill(50)(s"$pfx${rnd.nextInt(30)}").mkString(" ")
    val docs =
      Seq.tabulate(100)(i => (i.toLong, doc("a"), "en", "ok1")) ++
      Seq.tabulate(100)(i => ((100 + i).toLong, doc("a"), "en", "ok2")) ++
      Seq.tabulate(100)(i => ((200 + i).toLong, doc("drift"), "en", "broken"))
    val dir = java.nio.file.Files.createTempDirectory("graft-drift").toString
    docs.toDF("doc_id", "text", "lang", "source").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val kl = Text.sourceDivergence(spark, dir)
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r._4).toMap
    assert(kl("broken") > 2 * math.max(kl("ok1"), kl("ok2")),
      s"drifted source must dominate: $kl")
  }

  test("zipfFit: ~-1 slope on Zipfian text, flat slope flags the synthetic corpus") {
    import spark.implicits._
    // seeded Zipf(1.0) sampler over a 200-word vocabulary
    val rnd = new scala.util.Random(13)
    val harmonic = (1 to 200).map(1.0 / _).sum
    def draw(): Int = {
      var u = rnd.nextDouble() * harmonic; var r = 0
      while (u > 0 && r < 200) { r += 1; u -= 1.0 / r }
      r
    }
    val docs = Seq.tabulate(400)(i =>
      (i.toLong, Seq.fill(60)(s"z${draw()}").mkString(" ")))
    val dir = java.nio.file.Files.createTempDirectory("graft-zipf").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val Array((nz, zslope)) = Text.zipfFit(spark, dir)
      .select($"n_vocab", $"slope").as[(Long, Double)].collect()
    assert(nz >= 150 && zslope < -0.75 && zslope > -1.35,
      s"Zipfian corpus should fit near -1, got $zslope over $nz words")
    // the driver's near-uniform synthetic corpus must read as NON-Zipfian
    val flat = Text.zipfFit(spark, sf).select($"slope").as[Double].head()
    assert(flat > -0.4, s"flat corpus should flag (slope $flat)")
  }

  test("bpeEncode matches an independent in-JVM re-encode of every document") {
    import spark.implicits._
    val merges = Text.bpeTrained(spark, sf).orderBy($"step")
      .select($"lsym", $"rsym").as[(String, String)].collect().toSeq
    assert(merges.length == 3)
    def pieces(w: String): Long = {
      var s = w.flatMap(c => s"|$c|")
      merges.foreach { case (l, r) => s = s.replace(s"|$l||$r|", s"|$l$r|") }
      ("\\|\\|".r.findAllMatchIn(s).length + 1).toLong
    }
    val expect = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", split(lower($"text"), "\\s+").as("ws"))
      .as[(Long, Seq[String])].collect().map { case (id, ws) =>
        val ok = ws.filter(w => w.matches("^[a-z]+$") && w.length >= 2)
        id -> (ok.length.toLong, ok.map(pieces).sum)
      }.toMap
    val got = Text.bpeEncode(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    assert(got.length == expect.size)
    got.foreach { case (id, nw, np, mean) =>
      assert((nw, np) == expect(id), s"doc $id")
      assert(nw == 0 || math.abs(mean - np.toDouble / nw) < 1e-15)
      assert(np >= nw, s"doc $id: every word is at least one piece")
    }
    // merges genuinely fire: total pieces < total pre-merge symbols
    val totalPieces = got.map(_._3).sum
    val totalSymbols = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(lower($"text"), "\\s+")).as("w"))
      .filter($"w".rlike("\\A[a-z]+\\z") && length($"w") >= 2)
      .agg(sum(length($"w"))).as[Long].head()
    assert(totalPieces < totalSymbols, s"$totalPieces vs $totalSymbols")
  }

  test("dsirHashedWeights: fixed bucket space, exact sums, target domain separates") {
    import spark.implicits._
    val got = Text.dsirHashedWeights(spark, sf)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"lang", split(lower($"text"), "\\s+").as("ws"))
      .as[(Long, String, Seq[String])].collect()
    // feature count contract: unigrams + bigrams = 2n − 1
    docs.foreach { case (id, _, ws) =>
      assert(got(id)._2 == 2L * ws.length - 1, s"doc $id n_feats")
    }
    // the hashed LM is bounded by the bucket space no matter the corpus:
    // every score the docs see comes from ≤ 4096 distinct bucket scores
    val distinctPerDocSums = got.values.map(_._3).toSet
    assert(distinctPerDocSums.size <= docs.length)
    // target-domain separation survives the hashing
    val (en, other) = docs.partition(_._2 == "en")
    def avg(ds: Array[(Long, String, Seq[String])]) =
      ds.map(d0 => got(d0._1)._4).sum / ds.length
    assert(avg(en) > avg(other), s"${avg(en)} vs ${avg(other)}")
    // hashed and word-level rungs estimate the same target, but bigram
    // features + bucket collisions + bucket-space smoothing legitimately
    // reorder docs — assert clear positive rank correlation, not identity
    // (measured ~0.30 on this corpus)
    val word = Text.dsirWeights(spark, sf)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r._4).toMap
    val ids = docs.map(_._1)
    def ranks(m: Map[Long, Double]) = {
      val sorted = ids.sortBy(m)
      sorted.zipWithIndex.map { case (id, r) => id -> r.toDouble }.toMap
    }
    val (ra, rb) = (ranks(ids.map(i => i -> got(i)._4).toMap), ranks(word))
    val n = ids.length
    val d2 = ids.map(i => math.pow(ra(i) - rb(i), 2)).sum
    val rho = 1 - 6 * d2 / (n * (n.toDouble * n - 1))
    assert(rho > 0.15, s"spearman rho $rho between hashed and word DSIR")
  }

  test("ngramNovelty: every distinct gram is novel exactly once, corpus-wide") {
    import spark.implicits._
    val rows = Dedup.ngramNovelty(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.length == 500)
    rows.foreach { case (id, n, nov, frac) =>
      assert(nov >= 0 && nov <= n, s"doc $id")
      assert(n == 0 || math.abs(frac - nov.toDouble / n) < 1e-12)
    }
    // conservation: Σ n_novel = |distinct grams|; earliest gram-bearing
    // doc is 100% novel
    val grams = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", split(lower($"text"), "\\s+").as("ws"))
      .as[(Long, Seq[String])].collect()
      .map { case (id, ws) => id -> ws.sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet }
    val allGrams = grams.flatMap(_._2).toSet
    assert(rows.map(_._3).sum == allGrams.size.toLong)
    val firstDoc = grams.filter(_._2.nonEmpty).minBy(_._1)._1
    val fr = rows.find(_._1 == firstDoc).get
    assert(fr._3 == fr._2 && fr._4 == 1.0, s"first doc $firstDoc fully novel")
  }

  test("rankedVocab: two-phase rank equals the global rank, no single-partition exchange") {
    import spark.implicits._
    val rv = Text.rankedVocab(spark, sf)
    // the whole point of the two-phase form: nothing funnels the vocab
    // through one partition
    val plan = rv.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"), plan)
    val got = rv.select($"w", $"token_id").as[(String, Long)].collect().toMap
    val freq = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(lower($"text"), "\\s+")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("c")).as[(String, Long)].collect()
    val expect = freq.sortBy { case (w, c) => (-c, w) }.zipWithIndex
      .map { case ((w, _), i) => w -> (i + 1L) }.toMap
    assert(got == expect)
  }

  test("bigramLm conditionals sum to one per context") {
    import spark.implicits._
    val rows = Text.bigramLm(spark, sf)
      .as[(String, String, Long, Long, Double)].collect()
    rows.groupBy(_._1).foreach { case (w1, rs) =>
      assert(rs.map(_._3).sum == rs.head._4, s"marginal mismatch for '$w1'")
      assert(math.abs(rs.map(_._5).sum - 1.0) < 1e-9, s"p sum for '$w1'")
    }
    val nBigrams = spark.read.parquet(s"$sf/documents.parquet")
      .select(split(lower($"text"), "\\s+").as("ws"))
      .as[Seq[String]].collect()
      .map(ws => math.max(ws.length - 1, 0).toLong).sum
    assert(rows.map(_._3).sum == nBigrams)
  }

  test("calibratedFilter band derives from the corpus median") {
    import spark.implicits._
    val rows = Text.calibratedFilter(spark, sf)
      .as[(Long, Double, Double, Boolean)].collect()
    assert(rows.length == 500)
    val meds = rows.map(_._3).distinct
    assert(meds.length == 1)
    val med = meds.head
    // the median splits the scores
    val scores = rows.map(_._2).sorted
    assert(med >= scores(249) && med <= scores(250))
    rows.foreach { case (id, ms, _, keep) =>
      assert(keep == (math.abs(ms - med) <= 0.2 * med), s"doc $id")
    }
    // a ±20% band around the median keeps a solid majority
    assert(rows.count(_._4) > 250, "band unexpectedly narrow")
  }

  test("materializePacks concatenation hash is reproducible") {
    import spark.implicits._
    val packs = Sampling.materializePacks(spark, sf)
      .as[(String, Long, Long, Long, String)].collect()
    assert(packs.nonEmpty)
    // doc mass conservation: every doc lands in exactly one pack
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"source", $"text").as[(Long, String, String)].collect()
    assert(packs.map(_._3).sum == docs.length)
    // recompute one pack's md5 on the driver from packSequences membership
    val asg = Sampling.packSequences(spark, sf)
      .as[(Long, String, Long, Long, Long)].collect()
    val (src, pid) = (packs.head._1, packs.head._2)
    val memberIds = asg.filter(a => a._2 == src && a._4 == pid).map(_._1).sorted
    val text = memberIds.map(id => docs.find(_._1 == id).get._3).mkString(" <eod> ")
    val md = java.security.MessageDigest.getInstance("MD5")
    val expect = md.digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(packs.head._5 == expect, s"pack ($src,$pid) md5 mismatch")
  }

  test("bigramSurprisal recomposes from the bigram LM exactly") {
    import spark.implicits._
    val lm = Text.bigramLm(spark, sf)
      .as[(String, String, Long, Long, Double)].collect()
      .map { case (w1, w2, c12, c1, _) =>
        (w1, w2) -> math.round(-(math.log(c12.toDouble / c1) / math.log(2.0)) * 1000000.0)
      }.toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", split(lower($"text"), "\\s+").as("ws"))
      .as[(Long, Seq[String])].collect()
    val out = Text.bigramSurprisal(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    assert(out.length == 500)
    out.foreach { case (id, n, bits, mean) =>
      val ws = docs.find(_._1 == id).get._2
      val pairs = ws.sliding(2).filter(_.length == 2).map(p => (p(0), p(1))).toSeq
      assert(n == pairs.length, s"doc $id")
      assert(bits == pairs.map(lm).sum, s"doc $id bits")
      if (n > 0) assert(math.abs(mean - bits.toDouble / (n * 1000000.0)) < 1e-12)
    }
  }

  test("knSurprisal recomposes from independent driver KN tables; mass sums to one") {
    import spark.implicits._
    val D = 0.75
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", split(lower($"text"), "\\s+").as("ws"))
      .as[(Long, Seq[String])].collect()
    // independent driver-side KN model from raw text
    val pairs = docs.flatMap { case (_, ws) =>
      ws.sliding(2).filter(_.length == 2).map(p => (p(0), p(1))) }
    val c12 = pairs.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val c1 = c12.groupBy(_._1._1).map { case (w1, m) => w1 -> m.values.sum }
    val n1f = c12.groupBy(_._1._1).map { case (w1, m) => w1 -> m.size.toLong }
    val n1b = c12.groupBy(_._1._2).map { case (w2, m) => w2 -> m.size.toLong }
    val b = c12.size.toLong
    def p(w1: String, w2: String): Double =
      ((c12.getOrElse((w1, w2), 0L).toDouble - D) / c1(w1)) +
        (((D * n1f(w1)) / c1(w1)) * (n1b(w2).toDouble / b))
    def sq(w1: String, w2: String): Long =
      math.round(-(math.log(p(w1, w2)) / math.log(2.0)) * 1000000.0)
    val out = Text.knSurprisal(spark, sf).as[(Long, Long, Long, Double)].collect()
    assert(out.length == 500)
    out.foreach { case (id, n, bits, mean) =>
      val ws = docs.find(_._1 == id).get._2
      val ps = ws.sliding(2).filter(_.length == 2).map(p => (p(0), p(1))).toSeq
      assert(n == ps.length, s"doc $id n")
      assert(bits == ps.map { case (a, c) => sq(a, c) }.sum, s"doc $id bits")
      if (n > 0) assert(math.abs(mean - bits.toDouble / (n * 1000000.0)) < 1e-12)
    }
    // interpolated KN is a proper distribution: for every context w1 the
    // discounted observed mass plus backoff mass over the FULL
    // continuation vocabulary is exactly 1 (Σ_w2 pcont = 1 analytically)
    val contVocab = n1b.keys.toArray
    c1.keys.take(50).foreach { w1 =>
      val observed = c12.collect { case ((a, w2), c) if a == w1 =>
        (c.toDouble - D) / c1(w1) }.sum
      val backoff = (D * n1f(w1)) / c1(w1) *
        contVocab.map(w2 => n1b(w2).toDouble / b).sum
      assert(math.abs(observed + backoff - 1.0) < 1e-9, s"context $w1 mass")
    }
  }

  test("heavyHitters equals the exact frequent-token set, any partitioning") {
    import spark.implicits._
    val got = Text.heavyHitters(spark, sf)
      .as[(String, Long)].collect().toMap
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(lower($"text"), "\\s+")).as("w"))
      .as[String].collect()
    val n = toks.length.toLong
    val exact = toks.groupBy(identity).map { case (w, v) => w -> v.length.toLong }
      .filter { case (_, c) => 100L * c >= n }
    assert(got == exact, "MG-pruned result must equal the exact heavy-hitter set")
    assert(got.nonEmpty, "fixture corpus has heavy hitters")
    // threshold honesty: nothing below 1% slipped through
    got.values.foreach(c => assert(100L * c >= n))
  }

  test("perplexityBuckets cuts each language into ordered near-equal thirds") {
    import spark.implicits._
    val rows = Text.perplexityBuckets(spark, sf)
      .select($"doc_id", $"lang", $"mean_bigram_surprisal", $"ppl_bucket")
      .as[(Long, String, Double, String)].collect()
    assert(rows.length == 500)
    rows.groupBy(_._2).foreach { case (lang, docs) =>
      val sizes = docs.groupBy(_._4).view.mapValues(_.size).toMap
      val (h, m, t) = (sizes.getOrElse("head", 0), sizes.getOrElse("middle", 0),
        sizes.getOrElse("tail", 0))
      assert(h + m + t == docs.length, s"$lang partition")
      assert(math.abs(h - t) <= 1 && math.abs(h - m) <= 1, s"$lang balance: $sizes")
      // bucket order respects the (surprisal, doc_id) sort key
      val key = (d: (Long, String, Double, String)) => (d._3, d._1)
      val ord = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
      if (h > 0 && t > 0) {
        val maxHead = docs.filter(_._4 == "head").map(key).max(ord)
        val minTail = docs.filter(_._4 == "tail").map(key).min(ord)
        assert(ord.lt(maxHead, minTail), s"$lang head/tail inversion")
      }
    }
  }

  test("crossModalQuality fuses both signals with honest keep algebra") {
    import spark.implicits._
    val rows = Similarity.crossModalQuality(spark, sf)
      .as[(Long, Int, Double, Double, Boolean, Boolean)].collect()
    val nEmb = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(rows.length == nEmb)
    rows.foreach { case (id, _, sr, _, outlier, keep) =>
      assert(keep == (!outlier && sr >= 0.01), s"doc $id")
    }
    // both rejection reasons must actually fire somewhere on this corpus
    assert(rows.exists(r => r._5), "no embedding outliers")
    assert(rows.exists(r => !r._6), "filter kept everything")
  }

  test("corpusReport aggregates reconcile with the raw table") {
    import spark.implicits._
    val report = Text.corpusReport(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Double)].collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"source", $"lang", $"n_chars", $"text")
      .as[(String, String, Long, String)].collect()
    assert(report.map(_._2).sum == docs.length)
    assert(report.map(_._3).sum == docs.map(_._3).sum)
    val bySource = docs.groupBy(_._1)
    report.foreach { case (src, nDocs, _, _, nLangs, nDups, p50) =>
      val rows = bySource(src)
      assert(nDocs == rows.length, src)
      assert(nLangs == rows.map(_._2).distinct.length, src)
      assert(nDups >= 0 && nDups < nDocs, src)
      assert(p50 > 0, src)
    }
  }

  test("text-family operators survive degenerate documents") {
    import spark.implicits._
    // empty, whitespace-only, single-token, all-repeat, and tiny docs —
    // shapes the synthetic corpus never produces
    val dir = java.nio.file.Files.createTempDirectory("graft_degen").toString
    Seq(
      (0L, "", "en", "src0", 0L),
      (1L, "   ", "en", "src0", 3L),
      (2L, "solo", "de", "src1", 4L),
      (3L, "a a a a a a", "en", "src1", 11L),
      (4L, "x y", "es", "src0", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val textQueries = Seq(
      "q09_dedup_exact", "q16_jaccard_neardup", "q18_quality_score",
      "q19_token_stats", "q50_normalize", "q51_repetition", "q52_hash_split",
      "q56_chunking", "q57_seq_packing", "q59_decontaminate",
      "q61_boilerplate", "q64_bpe_pairs", "q68_substring_dup",
      "q69_surprisal", "q72_tokenize_ids", "q73_bigram_lm")
    textQueries.foreach { name =>
      val rows = SparkEntry.queries(name)(spark, dir).collect()
      assert(rows != null, name)
      // no NaN/Inf leaks out of any ratio column
      rows.foreach { r =>
        (0 until r.length).foreach { i =>
          r.get(i) match {
            case x: Double => assert(!x.isNaN && !x.isInfinite, s"$name col $i")
            case _ =>
          }
        }
      }
    }
  }

  test("bpePairCounts conserves total pair mass") {
    import spark.implicits._
    val words = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(lower($"text"), "\\s+")).as("w"))
      .as[String].collect()
    val expected = words.filter(_.length >= 2).map(_.length - 1L).sum
    val pairs = Text.bpePairCounts(spark, sf).as[(String, Long)].collect()
    assert(pairs.map(_._2).sum == expected)
    pairs.foreach { case (p, n) => assert(p.length == 2 && n > 0) }
  }

  test("funnelStages: first-occurrence semantics against a driver replay") {
    import spark.implicits._
    val w = 24L * 3600 * 1000000
    val evs = graft.core.Tables.events(spark, sf)
      .select($"user_id", unix_micros($"ts"), $"event_type")
      .as[(Long, Long, String)].collect()
    val expected = evs.groupBy(_._1).flatMap { case (u, es) =>
      val views = es.filter(_._3 == "view").map(_._2)
      views.minOption.map { t1 =>
        val t2 = es.collect {
          case (_, t, "click") if t > t1 && t <= t1 + w => t
        }.minOption
        val t3 = t2.flatMap(c => es.collect {
          case (_, t, "purchase") if t > c && t <= c + w => t
        }.minOption)
        u -> ((1L + t2.size + t3.size, t1, t2.getOrElse(-1L), t3.getOrElse(-1L)))
      }
    }
    val got = Windowed.funnelStages(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got == expected)
    assert(got.values.exists(_._1 == 3L), "fixture should contain full conversions")
    assert(got.values.exists(_._1 < 3L), "and partial funnels")
  }

  test("prioritySample: top-k by priority, one shared tau, small-corpus tau=0 path") {
    import spark.implicits._
    val out = Sampling.prioritySample(spark, sf, k = 50)
      .as[(Long, Long, Double, Double)].collect()
    assert(out.length == 50)
    assert(out.map(_._1).distinct.length == 50, "sample is distinct docs")
    // est_w = max(w, tau) with ONE threshold: every estimate above the
    // row's own weight must be the same tau, and every sampled priority
    // sits at or above it (they are the top-k by construction)
    val taus = out.collect { case (_, w, _, est) if est != w.toDouble => est }.distinct
    assert(taus.length == 1, s"expected one shared tau, got ${taus.toSeq}")
    val tau = taus.head
    out.foreach { case (id, w, pri, est) =>
      assert(est == math.max(w.toDouble, tau), s"doc $id")
      assert(pri >= tau, s"doc $id pri=$pri below tau=$tau")
    }
    // k beyond the corpus: no (k+1)-th row exists, tau falls back to 0
    // and the estimator degenerates to the exact per-doc weight
    val all = Sampling.prioritySample(spark, sf, k = 1000)
      .as[(Long, Long, Double, Double)].collect()
    assert(all.length == 500, "k > |corpus| keeps every doc")
    all.foreach { case (id, w, _, est) =>
      assert(est == w.toDouble, s"doc $id tau=0 estimate must be its own weight")
    }
  }

  test("gopherQuality counters and flags match a driver recomputation") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", lower($"text")).as[(Long, String)].collect()
    val req = graft.functions.TextFunctions.StopWords.toSet
    val expected = docs.map { case (id, t) =>
      val w = t.split("\\s+").filter(_.nonEmpty)
      val nw = w.length.toLong
      val nc = w.map(_.length.toLong).sum
      val na = w.count(_.exists(c => c >= 'a' && c <= 'z')).toLong
      val ns = w.count(x => x.contains("#") || x.contains("...")).toLong
      val nr = w.distinct.count(req).toLong
      (id, nw, nc, na, ns, nr,
        nw >= 50 && nw <= 100000, nc >= nw * 3 && nc <= nw * 10,
        na * 10 >= nw * 8, ns * 10 < nw, nr >= 2)
    }.toSet
    val got = graft.operators.Text
      .gopherQuality(spark, sf, graft.functions.TextFunctions.StopWords)
      .select($"doc_id", $"n_words", $"n_wchars", $"n_alpha", $"n_sym",
        $"n_req", $"pass_words", $"pass_mean", $"pass_alpha", $"pass_sym",
        $"pass_req")
      .as[(Long, Long, Long, Long, Long, Long,
        Boolean, Boolean, Boolean, Boolean, Boolean)].collect().toSet
    assert(got == expected)
    val passes = graft.operators.Text
      .gopherQuality(spark, sf, graft.functions.TextFunctions.StopWords)
      .filter($"pass").count()
    assert(passes > 0 && passes < docs.length, "gate must discriminate")
  }

  test("sourceRuleMatrix is the per-source aggregation of the q117 verdicts") {
    import spark.implicits._
    val perDoc = graft.operators.Text
      .gopherQuality(spark, sf, graft.functions.TextFunctions.StopWords)
      .join(spark.read.parquet(s"$sf/documents.parquet")
        .select($"doc_id", $"source"), "doc_id")
    val expected = perDoc.groupBy($"source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(!$"pass_words", 1L).otherwise(0L)).as("fail_words"),
        sum(when(!$"pass_sym", 1L).otherwise(0L)).as("fail_sym"),
        sum(when($"pass", 1L).otherwise(0L)).as("n_pass"))
      .as[(String, Long, Long, Long, Long)].collect().toSet
    val got = graft.operators.Text.sourceRuleMatrix(spark, sf)
      .select($"source", $"n_docs", $"fail_words", $"fail_sym", $"n_pass")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(got == expected)
    // rate is exactly the quantized pass share, and fails are bounded
    graft.operators.Text.sourceRuleMatrix(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().foreach { case (s, n, fw, fm, fa, fs, fr, np, rq) =>
        assert(Seq(fw, fm, fa, fs, fr).forall(f => f >= 0 && f <= n), s)
        assert(np <= n && rq == math.round(np.toDouble / n * 1000000.0), s)
      }
  }

  test("decayedLeaderboard: integer decay law and both rank permutations replay") {
    import spark.implicits._
    val rows = Windowed.decayedLeaderboard(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect()
    val ev = graft.core.Tables.events(spark, sf)
      .select($"event_type", to_date($"ts").as("day"))
      .groupBy($"event_type", $"day").agg(count(lit(1)).as("cnt"))
      .as[(String, java.sql.Date, Long)].collect()
    val maxDay = ev.map(_._2.toLocalDate).max(Ordering.by[java.time.LocalDate, Long](_.toEpochDay))
    val expected = ev.groupBy(_._1).map { case (t, cells) =>
      val raw = cells.map(_._3).sum
      val num = cells.map { case (_, d0, c) =>
        val age = math.min(
          maxDay.toEpochDay - d0.toLocalDate.toEpochDay, 32L).toInt
        c * (1L << (32 - age))
      }.sum
      t -> (raw, num)
    }
    rows.foreach { case (t, raw, decQ, _, _) =>
      assert(raw == expected(t)._1, s"$t raw")
      assert(decQ == BigDecimal(expected(t)._2.toDouble / 4294967296.0 * 1000.0)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong, s"$t decayed")
    }
    // ranks are permutations of 1..n, consistent with their sort keys
    val n = rows.length
    assert(rows.map(_._4).sorted.toSeq == (1L to n).toSeq)
    assert(rows.map(_._5).sorted.toSeq == (1L to n).toSeq)
    val byRaw = rows.sortBy(r => (-r._2, r._1)).map(_._1).toSeq
    assert(rows.sortBy(_._4).map(_._1).toSeq == byRaw, "raw rank ordering")
    val byDec = rows.sortBy(r => (-expected(r._1)._2, r._1)).map(_._1).toSeq
    assert(rows.sortBy(_._5).map(_._1).toSeq == byDec, "decayed rank ordering")
  }

  test("retentionCohorts: day-0 is always 1.0, counts bounded by cohort size") {
    import spark.implicits._
    val rows = Windowed.retentionCohorts(spark, sf)
      .as[(Long, Long, Long, Long, Double)].collect()
    val byCohort = rows.groupBy(_._1)
    byCohort.foreach { case (c, rs) =>
      val d0 = rs.find(_._2 == 0L)
      assert(d0.isDefined && d0.get._5 == 1.0,
        s"cohort $c: every member is active on their own first day")
      rs.foreach { case (_, off, n, size, ret) =>
        assert(off >= 0 && n <= size && ret == n.toDouble / size)
      }
      assert(rs.map(_._4).distinct.size == 1, s"cohort $c size consistent")
    }
    // conservation: cohort sizes partition the user population
    val users = graft.core.Tables.events(spark, sf)
      .select($"user_id").distinct().count()
    assert(byCohort.values.map(_.head._4).sum == users)
  }

  test("powerIteration matches an exact driver replay and is unit-norm") {
    import spark.implicits._
    val emb = graft.core.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    val eq = emb.map { case (_, e) =>
      e.map(x => new java.math.BigDecimal(x.toDouble * 1e7)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()).toArray }
    val dims = eq.head.length
    var vq = Array.fill(dims)(1000000L)
    for (_ <- 1 to 4) {
      val u = Array.fill(dims)(BigInt(0))
      eq.foreach { e =>
        val dv = (0 until dims).map(j => e(j) * vq(j)).sum
        for (j <- 0 until dims) u(j) += BigInt(e(j)) * BigInt(dv)
      }
      val ud = u.map(_.toDouble)
      val nrm = math.sqrt(ud.map(x => x * x).reduceLeft(_ + _))
      vq = ud.map(x => new java.math.BigDecimal(x / nrm * 1000000.0)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact())
    }
    val got = Similarity.powerIteration(spark, sf)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(got.map(_._2).toSeq == vq.toSeq)
    // unit norm at quantization resolution
    val n2 = got.map(_._3).map(x => x * x).sum
    assert(math.abs(n2 - 1.0) < 1e-4, s"norm^2 = $n2")
    // and it is actually a dominant direction: one more exact matvec
    // must not rotate it by more than the quantization step
    val u2 = Array.fill(dims)(BigInt(0))
    eq.foreach { e =>
      val dv = (0 until dims).map(j => e(j) * got(j)._2).sum
      for (j <- 0 until dims) u2(j) += BigInt(e(j)) * BigInt(dv)
    }
    val ud2 = u2.map(_.toDouble)
    val nn = math.sqrt(ud2.map(x => x * x).sum)
    val cos = (0 until dims).map(j => ud2(j) / nn * got(j)._3).sum
    // 4 fixed steps from the all-ones start: direction is settled to
    // ~1e-2 on the sf0.001 spectrum (cos(v4, v5) ≈ 0.993) — the exact
    // trajectory equality above is the binding check; this guards
    // against a sign flip or a non-dominant direction
    assert(cos > 0.99, s"not converged: cos(v4, v5) = $cos")
  }

  test("editDistanceNearDup matches a full driver DP (PassJoin completeness)") {
    import spark.implicits._
    def lev(a: String, b: String): Int = {
      var prev = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        val row = new Array[Int](b.length + 1)
        row(0) = i
        for (j <- 1 to b.length)
          row(j) = math.min(math.min(prev(j) + 1, row(j - 1) + 1),
            prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = row
      }
      prev(b.length)
    }
    val titles = graft.core.Tables.documents(spark, sf)
      .select($"doc_id",
        substring(regexp_replace(trim(lower($"text")), "\\s+", " "), 1, 40))
      .as[(Long, String)].collect()
    val expected = (for {
      (ia, ta) <- titles; (ib, tb) <- titles
      if ia < ib && math.abs(ta.length - tb.length) <= 3
      d = lev(ta, tb) if d <= 3
    } yield (ia, ib, d.toLong)).toSet
    val got = Dedup.editDistanceNearDup(spark, sf)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty, "fixture should contain near-identical titles")
  }

  test("robustSourceStats: rank-exact median/MAD/outliers vs a driver recompute") {
    import spark.implicits._
    // exact middle-rank mean — the same (n+1)/2,(n+2)/2 arithmetic as the
    // operator and its oracle, so equality is bitwise, no epsilon
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      (s((s.length - 1) / 2) + s(s.length / 2)) / 2.0
    }
    val rows = graft.core.Tables.documents(spark, sf)
      .select($"source", $"n_chars").as[(String, Long)].collect()
    val expected = rows.groupBy(_._1).map { case (src, ds) =>
      val xs = ds.map(_._2.toDouble).toSeq
      val med = median(xs)
      val devs = xs.map(x => math.abs(x - med))
      val mad = median(devs)
      src -> ((xs.size.toLong, med, mad, devs.count(_ > 3 * mad).toLong))
    }
    val got = Text.robustSourceStats(spark, sf)
      .as[(String, Long, Double, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got == expected)
    assert(got.values.exists(_._3 > 0.0), "some source must have spread")
    assert(got.values.exists(_._4 > 0L), "fixture should contain outliers")
  }

  test("pmiCollocations: association ratios vs a driver bigram recompute") {
    import spark.implicits._
    val texts = graft.core.Tables.documents(spark, sf)
      .select(lower($"text")).as[String].collect()
    // split with limit -1 to mirror Spark's split() trailing-empty keep
    val c12 = texts.flatMap { t =>
      val w = t.split("\\s+", -1)
      if (w.length >= 2) w.dropRight(1).zip(w.tail) else Array.empty[(String, String)]
    }.groupBy(identity).map { case (p, o) => p -> o.size.toLong }
    val c1 = c12.groupBy(_._1._1).map { case (w1, m) => w1 -> m.values.sum }
    val c2 = c12.groupBy(_._1._2).map { case (w2, m) => w2 -> m.values.sum }
    val t = c12.values.sum.toDouble
    val expected = c12.toSeq.collect { case ((w1, w2), c) if c >= 5 =>
      val pmi = math.log(c.toDouble * t / (c1(w1).toDouble * c2(w2).toDouble)) /
        math.log(2.0)
      val q = BigDecimal(pmi * 1000000.0)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      (w1, w2, c, q)
    }.sortBy(r => (-r._4, r._1, r._2)).take(50)
    val got = Text.pmiCollocations(spark, sf)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(got.nonEmpty)
    assert(got.map(_._4) == got.map(_._4).sorted.reverse, "sorted by PMI desc")
  }
  test("topNgramRepetition: map-only multiplicities + dup-5 coverage vs driver") {
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    def grams(w: Array[String], n: Int): Seq[String] =
      if (w.length < n) Seq.empty
      else (0 to w.length - n).map(i => w.slice(i, i + n).mkString(" "))
    val expected = docs.map { case (id, text) =>
      val w = text.toLowerCase.split("\\s+", -1)
      def top(n: Int): Long =
        grams(w, n).groupBy(identity).values.map(_.size.toLong)
          .foldLeft(0L)(math.max)
      // interval union over within-doc duplicated 3-gram spans [p, p+2]
      val g3 = grams(w, 3)
      val dupPos = g3.zipWithIndex
        .filter { case (g, _) => g3.count(_ == g) >= 2 }.map(_._2)
      val cov = dupPos.flatMap(p => p to p + 2).distinct.size.toLong
      id -> ((w.length.toLong, top(2), top(3), top(4), cov))
    }.toMap
    val got = Text.topNgramRepetition(spark, sf)
      .select($"doc_id", $"n_tokens", $"top2", $"top3", $"top4", $"dup3_cov")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(got == expected)
    assert(got.values.exists(_._2 > 1L), "fixture must contain repeated 2-grams")
  }

  test("eventTransitions matches a driver sequence replay") {
    import spark.implicits._
    val evs = graft.core.Tables.events(spark, sf)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .as[(Long, java.sql.Timestamp, Long, String)].collect()
    val trans = evs.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      val ordered = es.sortBy(e => (e._2.getTime, e._3)).map(_._4)
      ordered.zip(ordered.tail)
    }
    val cnt = trans.groupBy(identity).map { case (p, o) => p -> o.size.toLong }
    val fromTot = cnt.groupBy(_._1._1).map { case (f, m) => f -> m.values.sum }
    val expected = cnt.map { case ((f, t), c) =>
      (f, t, c, c.toDouble / fromTot(f).toDouble)
    }.toSet
    val got = Windowed.eventTransitions(spark, sf)
      .as[(String, String, Long, Double)].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty)
    // probabilities row-normalize exactly (sum of exact rationals per row
    // can carry FP dust; the driver sums the same doubles, so equality
    // above is the binding check - this is a sanity bound)
    got.groupBy(_._1).foreach { case (f, rows) =>
      val s = rows.toSeq.map(_._4).sum
      assert(math.abs(s - 1.0) < 1e-9, s"row $f sums to $s")
    }
  }

  test("eventPaths: top-20 triple counts match a driver replay") {
    import spark.implicits._
    val evs = graft.core.Tables.events(spark, sf)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .as[(Long, java.sql.Timestamp, Long, String)].collect()
    val triples = evs.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      val o = es.sortBy(e => (e._2.getTime, e._3)).map(_._4)
      o.sliding(3).filter(_.length == 3).map(w => (w(0), w(1), w(2)))
    }
    val expected = triples.groupBy(identity)
      .map { case (t, o) => (t._1, t._2, t._3, o.size.toLong) }.toSeq
      .sortBy { case (a, b, c, n) => (-n, a, b, c) }.take(20)
    val got = Windowed.eventPaths(spark, sf)
      .as[(String, String, String, Long)].collect().toSeq
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("clusterSafeSplit: same cluster => same split, zero leaking pairs") {
    import spark.implicits._
    val rows = Sampling.clusterSafeSplit(spark, sf)
      .as[(Long, Long, Long, String)].collect()
    assert(rows.length == 500)
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (c, rs) =>
      assert(rs.map(_._4).distinct.length == 1, s"cluster $c straddles splits")
    }
    assert(byCluster.exists(_._2.length > 1), "fixture has non-trivial clusters")
    // the constructive law q63 can only measure: no near-dup pair crosses
    val split = rows.map(r => r._1 -> r._4).toMap
    val leaking = Dedup.jaccardPairs(spark, sf)
      .select($"x", $"y").as[(Long, Long)].collect()
      .count { case (x, y) => split(x) != split(y) }
    assert(leaking == 0, s"$leaking near-dup pairs leak across splits")
    assert(rows.map(_._4).distinct.sorted.sameElements(
      Array("test", "train", "validation")) || rows.map(_._4).distinct.length >= 2)
  }

  test("interEventGaps: exact gap stats match a driver replay") {
    import spark.implicits._
    val evs = graft.core.Tables.events(spark, sf)
      .select($"user_id", $"event_type", $"ts", $"event_id")
      .as[(Long, String, java.sql.Timestamp, Long)].collect()
    val gaps = evs.groupBy(e => (e._1, e._2)).toSeq.flatMap { case (_, es) =>
      val o = es.sortBy(e => (e._3.getTime, e._4))
      o.zip(o.tail).map { case (a, b) =>
        // Timestamp.getTime is millis; the fixture carries micros — use
        // the same micros arithmetic as the engine
        def us(t: java.sql.Timestamp) = t.getTime * 1000 + t.getNanos / 1000 % 1000
        (b._2, us(b._3) - us(a._3))
      }
    }
    val expected = gaps.groupBy(_._1).map { case (t, gs) =>
      val xs = gs.map(_._2).sorted
      val med = (xs((xs.length - 1) / 2) + xs(xs.length / 2)).toDouble / 2.0
      t -> ((xs.length.toLong, xs.sum.toDouble / xs.length, xs.max, med))
    }
    val got = Windowed.interEventGaps(spark, sf)
      .as[(String, Long, Double, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("qualityRank: percent-rank law and tie handling") {
    import spark.implicits._
    val rows = Text.qualityRank(spark, sf)
      .as[(Long, String, Double, Long, Double, Long)].collect()
    assert(rows.length == 500)
    rows.groupBy(_._2).foreach { case (lang, rs) =>
      val n = rs.length.toLong
      // rank() law: rank = 1 + #strictly-smaller values
      val ratios = rs.map(_._3)
      rs.foreach { case (id, _, sr, rnk, pr, dec) =>
        assert(rnk == 1 + ratios.count(_ < sr), s"doc $id rank")
        val expPr = if (n == 1) 0.0 else (rnk - 1).toDouble / (n - 1).toDouble
        assert(pr == expPr, s"doc $id pr")
        assert(dec == math.min(math.floor(pr * 10).toLong, 9L), s"doc $id decile")
      }
      // ties share ranks: equal ratios => equal pr
      rs.groupBy(_._3).values.foreach { g =>
        assert(g.map(_._5).distinct.length == 1, s"$lang tie group split")
      }
    }
  }

  test("qualityRank: distributed form == lang-window form, no lang sort partition") {
    import spark.implicits._
    val dist = Text.qualityRank(spark, sf)
      .as[(Long, String, Double, Long, Double, Long)].collect().toSet
    val win = Text.qualityRankWindow(spark, sf)
      .as[(Long, String, Double, Long, Double, Long)].collect().toSet
    assert(dist == win, "two-phase per-lang ranks must equal the window form")
    // the default plan ranks through the checkpointed range partitioning,
    // never a per-lang Window sort
    val plan = Text.qualityRank(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("windowspecdefinition(lang"),
      s"no lang-partitioned window in the default plan:\n$plan")
  }

  test("qualityFilter conserves documents and drops a bounded per-lang share") {
    import spark.implicits._
    val total = graft.core.Tables.documents(spark, sf).count()
    val rows = Text.qualityFilter(spark, sf)
      .as[(String, String, Long, Long, Long)].collect()
    assert(rows.map(r => r._3 + r._4).sum == total, "every doc kept or dropped")
    assert(rows.forall(_._5 >= 0))
    // rank calibration: per language, the dropped share is the bottom two
    // deciles - between 10% and 35% allowing tie spill at decile edges
    rows.groupBy(_._1).foreach { case (lang, rs) =>
      val (k, dr) = (rs.map(_._3).sum, rs.map(_._4).sum)
      val share = dr.toDouble / (k + dr)
      assert(share > 0.05 && share < 0.40, s"$lang dropped share $share")
    }
    assert(rows.map(_._4).sum > 0, "filter must actually drop something")
  }

  test("activityGrid: integer calendar math matches java.time in UTC") {
    import spark.implicits._
    val rows = Windowed.activityGrid(spark, sf)
      .as[(String, Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r._2 >= 0 && r._2 < 7 && r._3 >= 0 && r._3 < 24))
    // cross-check the (days+4)%7 Thursday anchor and div-hour against an
    // independent calendar implementation on the raw data
    val evs = graft.core.Tables.events(spark, sf)
      .select($"event_type", $"ts").as[(String, java.sql.Timestamp)].collect()
    val expected = evs.groupBy { case (t, ts) =>
      val i = ts.toInstant.atZone(java.time.ZoneOffset.UTC)
      (t, (i.getDayOfWeek.getValue % 7).toLong, i.getHour.toLong)
    }.map { case (k, o) => k -> o.size.toLong }
    val gotCnt = rows.map(r => (r._1, r._2, r._3) -> r._4).toMap
    assert(gotCnt == expected)
  }

  test("tokenEntropy matches a driver recompute; uniform and repeated bounds") {
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val expected = docs.map { case (id, text) =>
      val w = text.toLowerCase.split("\\s+", -1)
      val c = w.groupBy(identity).map { case (_, o) => o.length.toLong }
      val n = w.length.toLong
      val eq = c.map { ct =>
        val term = (ct.toDouble / n.toDouble) *
          (math.log(n.toDouble / ct.toDouble) / math.log(2.0)) * 1000000.0
        BigDecimal(term).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }.sum
      id -> ((n, c.size.toLong, eq))
    }.toMap
    val got = Text.tokenEntropy(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == expected)
    // entropy bounds: 0 <= H <= log2(n_types) (quantization slack 1 per type)
    got.foreach { case (id, (n, types, eq)) =>
      val h = eq.toDouble / 1e6
      assert(h >= -types * 1e-6, s"doc $id negative entropy")
      assert(h <= math.log(types.toDouble) / math.log(2.0) + types * 1e-6,
        s"doc $id entropy above log2(types)")
    }
  }

  test("embeddingAudit and columnProfile: validation invariants on a clean fixture") {
    import spark.implicits._
    val audit = Similarity.embeddingAudit(spark, sf)
      .as[(Int, Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(audit.nonEmpty)
    val total = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(audit.map(_._2).sum == total, "every vector audited exactly once")
    audit.foreach { case (label, n, mnd, mxd, mn2, mx2, z, nz) =>
      assert(mnd == 64 && mxd == 64, s"label $label dim drift")
      assert(z == 0 && mn2 > 0, s"label $label zero vectors")
      assert(nz == z || nz >= z, s"label $label near-zero < zero")
      assert(mx2 >= mn2 && n > 0)
    }
    val prof = graft.operators.Relational.columnProfile(spark, sf)
      .as[(String, Long, Long, Long)].collect()
    assert(prof.length == 6)
    val nRows = prof.head._2
    prof.foreach { case (c, n, nulls, dist) =>
      assert(n == nRows, s"$c row count")
      assert(nulls == 0L, s"$c unexpected nulls in the fixture")
      assert(dist > 0 && dist <= n, s"$c distinct bounds")
    }
    assert(prof.find(_._1 == "event_type").get._4 == 5L)
    assert(prof.find(_._1 == "event_id").get._4 == nRows, "event_id is unique")
  }

  test("splitDriftAudit: driver replay; train drift is zero; hash split drifts small") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect()
    val bySplit = docs.groupBy { case (id, _) =>
      val b = graft.functions.Hashing.md5BucketJvm(s"split:$id", 100L)
      if (b < 80) "train" else if (b < 90) "validation" else "test"
    }
    val expected = bySplit.map { case (sp, rows) =>
      val sorted = rows.sortBy(r => (r._2, r._1)).map(_._2)
      val n = sorted.length
      def pick(p: Int) = sorted((p * n + 99) / 100 - 1)
      sp -> ((n.toLong, rows.map(_._2).sum.toDouble / n, pick(50), pick(90)))
    }
    val got = Sampling.splitDriftAudit(spark, sf)
      .as[(String, Long, Double, Long, Long, Long, Long)].collect()
    assert(got.length == 3)
    val t = expected("train")
    got.foreach { case (sp, n, mean, p50, p90, d50, d90) =>
      val e = expected(sp)
      assert((n, mean, p50, p90) == e, s"$sp stats")
      assert(d50 == (p50 - t._3) * 1000000L / t._3, s"$sp p50 drift identity")
      assert(d90 == (p90 - t._4) * 1000000L / t._4, s"$sp p90 drift identity")
      if (sp == "train") assert(d50 == 0L && d90 == 0L)
      // a hash split is drift-free by construction up to sampling noise
      assert(math.abs(d50) < 200000 && math.abs(d90) < 200000, s"$sp drift size")
    }
  }

  test("epochPlan: weights normalize, targets fill the budget, epoch identity holds") {
    import spark.implicits._
    val rows = Sampling.epochPlan(spark, sf)
      .as[(String, Long, Double, Double, Double, Boolean)].collect()
    assert(rows.nonEmpty)
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-9, "weights sum to 1")
    assert(math.abs(rows.map(_._4).sum - 1000000.0) < 1e-3,
      "targets fill the token budget")
    rows.foreach { case (src, eff, w, target, epochs, over) =>
      assert(eff > 0, s"$src effective mass")
      assert(target == w * 1000000.0, s"$src target identity")
      assert(epochs == target / eff.toDouble, s"$src epoch identity")
      assert(over == (epochs > 4.0), s"$src over-repetition flag")
    }
    // sqrt temperature upsamples small sources: the smallest source's
    // weight share exceeds its effective-token share
    val tot = rows.map(_._2).sum.toDouble
    val smallest = rows.minBy(_._2)
    assert(smallest._3 > smallest._2 / tot, "sqrt law flattens the mixture")
  }

  test("groupPrioritySample: per-source top-k with per-source tau matches a driver replay") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"source", $"doc_id", $"n_chars").as[(String, Long, Long)].collect()
    val pri = docs.map { case (src, id, w) =>
      val h1 = graft.functions.Hashing.md5BucketJvm(s"gps:$id", 1L << 32) + 1L
      (src, id, w, w.toDouble * 4294967296.0 / h1.toDouble)
    }
    val expected = pri.groupBy(_._1).toSeq.flatMap { case (src, rows) =>
      val sorted = rows.sortBy(r => (-r._4, r._2))
      val tau = if (sorted.length >= 21) sorted(20)._4 else 0.0
      sorted.take(20).zipWithIndex.map { case ((_, id, w, p), i) =>
        (src, id, w, p, (i + 1).toLong, math.max(w.toDouble, tau))
      }
    }.toSet
    val got = Sampling.groupPrioritySample(spark, sf)
      .as[(String, Long, Long, Double, Long, Double)].collect().toSet
    assert(got == expected)
    // every source contributes min(k, |source|) rows
    val per = got.groupBy(_._1).view.mapValues(_.size).toMap
    docs.groupBy(_._1).view.mapValues(_.size).foreach { case (s, n) =>
      assert(per(s) == math.min(20, n), s"source $s")
    }
  }
  test("spanCorruptionPlan: mask geometry invariants + driver replay of one doc") {
    import spark.implicits._
    val rows = graft.operators.Text.spanCorruptionPlan(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.length == spark.read.parquet(s"$sf/documents.parquet").count())
    rows.foreach { case (id, n, spans, masked, q6) =>
      // chained seeds merge into islands longer than one span, so the
      // only hard geometry bounds are containment and island counting
      assert(masked <= n && spans <= masked,
        s"doc $id geometry: n=$n spans=$spans masked=$masked")
      assert(q6 == masked * 1000000L / n, s"doc $id ratio")
    }
    // independent JVM replay of one document's mask
    val (docId, text) = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].head()
    val n = text.toLowerCase.split("\\s+", -1).length
    def seed(p: Int): Boolean =
      graft.functions.Hashing.md5BucketJvm(s"span:$docId:$p", 1L << 32) % 8 == 0
    val mk = (1 to n).map(p => (0 until 3).exists(k => p - k >= 1 && seed(p - k)))
    val expSpans = (1 to n).count(p => mk(p - 1) && (p == 1 || !mk(p - 2)))
    val got = rows.find(_._1 == docId).get
    assert(got._2 == n && got._3 == expSpans && got._4 == mk.count(identity))
  }

  test("clusterSpectrum: buckets partition the corpus and agree with cluster sizes") {
    import spark.implicits._
    val spec = graft.operators.Dedup.clusterSpectrum(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    val sizes = graft.operators.Dedup.dedupClustersStar(spark, sf)
      .as[(Long, Long)].collect().map(_._2)
    assert(spec.map(_._3).sum == sizes.sum, "doc mass conserved")
    assert(spec.map(_._2).sum == sizes.length, "cluster count conserved")
    spec.foreach { case (b, _, _, mx) =>
      assert((java.lang.Long.numberOfTrailingZeros(java.lang.Long.highestOneBit(mx))) == b
        || mx >= (1L << b) && mx < (1L << (b + 1)), s"bucket $b max $mx")
    }
  }

  test("vocabCoverage: occurrence totals conserved; coverage bounds hold") {
    import spark.implicits._
    val rows = graft.operators.Text.vocabCoverage(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    val totalToks = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(lower($"text"), "\\s+")).as("w")).count()
    assert(rows.map(_._2).sum == totalToks, "occurrences conserved")
    rows.foreach { case (src, occ, cov, types, oov, cq6, oq6) =>
      assert(cov <= occ && oov <= types, s"$src bounds")
      assert(cq6 == cov * 1000000L / occ && oq6 == (occ - cov) * 1000000L / occ)
    }
    // the top-1000 vocab must cover a majority of a natural corpus
    assert(rows.map(_._3).sum * 2 > totalToks, "top-1000 coverage sanity")
  }
  test("bootstrapCi: replicate count, bounds ordering, and a driver replay of one source") {
    import spark.implicits._
    val rows = graft.operators.Sampling.bootstrapCi(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (src, n, mean, reps, lo, hi, spread) =>
      assert(reps == 16L && lo <= hi && spread == hi - lo, s"$src shape")
    }
    // exact replay of one source's replicates
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"source", $"doc_id", $"n_chars").as[(String, Long, Long)].collect()
    val src = docs.head._1
    val mine = docs.filter(_._1 == src)
    val repMeans = (0 until 16).flatMap { b =>
      val ws = mine.map { case (_, id, nc) =>
        (graft.functions.Hashing.md5BucketJvm(s"boot:$b:$id", 1L << 32) % 3, nc)
      }
      val sw = ws.map(_._1).sum
      if (sw > 0) Some(ws.map { case (w, nc) => w * nc }.sum * 1000000L / sw)
      else None
    }
    val got = rows.find(_._1 == src).get
    assert(got._5 == repMeans.min && got._6 == repMeans.max, s"$src replay")
  }

  test("fisherSeparation: exact driver replay of between/within per label") {
    import spark.implicits._
    val rows = Similarity.fisherSeparation(spark, sf)
      .as[(Long, Long, Double, Double, Long)].collect()
      .map(r => r._1 -> r).toMap
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"label".cast("long"), $"embedding")
      .as[(Long, Array[Float])].collect()
      .map { case (l, e) => (l, e.map(x => math.round(x.toDouble * 1e7))) }
    val n = vecs.length.toLong
    val dims = vecs.head._2.length
    val byLabel = vecs.groupBy(_._1)
    val sI = Array.tabulate(dims)(i => vecs.map(_._2(i)).sum)
    assert(rows.keySet == byLabel.keySet && rows.values.map(_._2).sum == n)
    byLabel.foreach { case (l, vs) =>
      val nL = vs.length.toLong
      val sLi = Array.tabulate(dims)(i => vs.map(_._2(i)).sum)
      val bNum = (0 until dims).map { i =>
        val d = BigInt(sLi(i) * n - sI(i) * nL); d * d
      }.sum
      val betweenMs = bNum.toDouble / (nL * n * n).toDouble
      val sumdot = vs.map(v => v._2.map(x => BigInt(x) * BigInt(x)).sum).sum
      val ssqL = sLi.map(s => BigInt(s) * BigInt(s)).sum
      val withinSs = sumdot.toDouble - (ssqL.toDouble / nL.toDouble)
      val fisher =
        if (withinSs > 0.0)
          BigDecimal(((betweenMs / withinSs) * nL.toDouble) * 1000000.0)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        else 0L
      val got = rows(l)
      assert(got._2 == nL && got._3 == betweenMs && got._4 == withinSs
        && got._5 == fisher, s"label $l replay")
    }
  }

  test("thresholdSweep: monotone in tau, base row = the pair table, bounds") {
    import spark.implicits._
    val rows = Dedup.thresholdSweep(spark, sf)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == (50L to 90L by 5L).toSeq)
    val base = Dedup.jaccardPairs(spark, sf).count()
    assert(rows.head._2 == base, "tau=50 row counts the whole pair table")
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi._2 <= lo._2 && hi._3 <= lo._3 && hi._4 <= lo._4,
        s"monotone ${lo._1}->${hi._1}")
    }
    rows.foreach { case (t, p, dom, docs) =>
      assert(dom <= docs && docs <= 2 * p, s"tau $t bounds")
      if (p == 0) assert(dom == 0 && docs == 0)
    }
  }

  test("centroidSimilarity: driver replay via the sum-vector identity") {
    import spark.implicits._
    val rows = Similarity.centroidSimilarity(spark, sf)
      .as[(Int, Int, Long)].collect()
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"label", $"embedding").as[(Int, Array[Float])].collect()
      .map { case (l, e) => (l, e.map(x => math.round(x.toDouble * 1e7))) }
    val labels = vecs.map(_._1).distinct.sorted
    assert(rows.length == labels.length * (labels.length - 1) / 2)
    val sums = labels.map { l =>
      val vs = vecs.filter(_._1 == l).map(_._2)
      l -> Array.tabulate(vs.head.length)(i => vs.map(_(i)).sum)
    }.toMap
    rows.foreach { case (a, b, q6) =>
      assert(a < b)
      val dot = sums(a).zip(sums(b)).map { case (x, y) => BigInt(x) * BigInt(y) }.sum
      val n2a = sums(a).map(x => BigInt(x) * BigInt(x)).sum
      val n2b = sums(b).map(x => BigInt(x) * BigInt(x)).sum
      val cos = dot.toDouble / (math.sqrt(n2a.toDouble) * math.sqrt(n2b.toDouble))
      val exp = BigDecimal(cos * 1000000.0)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      assert(q6 == exp && math.abs(q6) <= 1000000L, s"pair ($a,$b)")
    }
  }

  test("heapsFit: totals equal corpus-wide counts; beta in the natural band") {
    import spark.implicits._
    val row = Text.heapsFit(spark, sf)
      .as[(Long, Long, Long, Double, Double)].collect().head
    val (nPoints, nTokens, nVocab, beta, log2k) = row
    val sh = Dedup.docShingles(spark, sf)
    assert(nPoints == 16)
    assert(nTokens == sh.count(), "cumulative instances end at the corpus total")
    assert(nVocab == sh.select("s").distinct().count(), "cumulative types end at |V|")
    assert(beta > 0.0 && beta < 1.0, s"Heaps beta=$beta outside (0,1)")
    // the fitted curve must roughly reproduce the endpoint: K·N^beta vs V
    val predicted = math.pow(2.0, log2k + beta * (math.log(nTokens.toDouble) / math.log(2.0)))
    assert(predicted > nVocab * 0.5 && predicted < nVocab * 2.0,
      s"fit endpoint $predicted vs $nVocab")
  }

  test("canonicalPolicy: keep/best laws and a full driver replay") {
    import spark.implicits._
    val rows = Dedup.canonicalPolicy(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val labels = Dedup.dedupLabelsStar(spark, sf)
      .as[(Long, Long)].collect()
    val srs = Text.qualityScore(spark, sf)
      .select($"doc_id", $"stop_ratio").as[(Long, Double)].collect().toMap
    val clusters = labels.groupBy(_._2).filter(_._2.length >= 2)
    assert(rows.keySet == clusters.keySet, "exactly the size>=2 clusters")
    clusters.foreach { case (lbl, members) =>
      val ids = members.map(_._1)
      val keep = ids.min
      val best = ids.map(id => (srs(id), -id)).max match { case (_, ni) => -ni }
      val (_, size, keepGot, bestGot, upgraded, gainQ6) = rows(lbl)
      assert(size == ids.length && keepGot == keep && bestGot == best, s"cluster $lbl")
      val strict = srs(best) > srs(keep)
      assert(upgraded == (if (strict) 1L else 0L), s"cluster $lbl upgraded")
      if (upgraded == 0L) assert(bestGot == keepGot && gainQ6 == 0L,
        s"cluster $lbl: no strict upgrade must mean identical pick")
      assert(gainQ6 >= 0L)
    }
  }

  test("knnLabelPurity: brute-force 1-NN replay over the whole fixture") {
    import spark.implicits._
    val rows = Similarity.knnLabelPurity(spark, sf)
      .as[(Int, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"label", $"embedding")
      .as[(Long, Int, Array[Float])].collect()
      .map { case (id, l, e) => (id, l, e.map(x => math.round(x.toDouble * 1e7))) }
    // quantized components are ~1e7, so 64-dim dots stay far below 2^63
    def cos(a: Array[Long], b: Array[Long]): Double = {
      var dot = 0L; var na = 0L; var nb = 0L
      var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
    }
    val byLabel = vecs.groupBy(_._2)
    val purity = vecs.map { case (id, l, q) =>
      val nn = vecs.iterator.filter(_._1 != id)
        .map(v => (cos(q, v._3), -v._1, v._2))
        .max
      (l, nn._3 == l)
    }
    byLabel.keys.foreach { l =>
      val mine = purity.filter(_._1 == l)
      val same = mine.count(_._2).toLong
      val got = rows(l)
      assert(got._2 == mine.size && got._3 == same, s"label $l 1-NN replay")
    }
  }

  test("crossSourceDups: cells partition the pair table; shares sum to ~1e6") {
    import spark.implicits._
    val rows = Dedup.crossSourceDups(spark, sf)
      .as[(String, String, Long, Long)].collect()
    val total = Dedup.jaccardPairs(spark, sf).count()
    assert(rows.map(_._3).sum == total, "cells partition the pair table")
    rows.foreach { case (a, b, _, _) => assert(a <= b, "unordered cell key") }
    val shareSum = rows.map(_._4).sum
    assert(math.abs(shareSum - 1000000L) <= rows.length,
      s"shares sum to ~1e6 (got $shareSum)")
    // replay one cell
    val srcs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"source").as[(Long, String)].collect().toMap
    val cells = Dedup.jaccardPairs(spark, sf).select($"x", $"y")
      .as[(Long, Long)].collect()
      .groupBy { case (x, y) =>
        val (a, b) = (srcs(x), srcs(y))
        (if (a <= b) a else b, if (a <= b) b else a)
      }.map { case (k, v) => k -> v.length.toLong }
    rows.foreach { case (a, b, n, _) =>
      assert(cells((a, b)) == n, s"cell ($a,$b)") }
  }

  test("sourceZipf: per-source vocab sizes, negative slopes, exact OLS replay") {
    import spark.implicits._
    val rows = Text.sourceZipf(spark, sf)
      .as[(String, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    val counts = spark.read.parquet(s"$sf/documents.parquet")
      .select($"source", explode(split(lower($"text"), "\\s+")).as("w"))
      .groupBy($"source", $"w").count()
      .as[(String, String, Long)].collect()
    val bySource = counts.groupBy(_._1)
    assert(rows.keySet == bySource.keySet)
    bySource.foreach { case (src, ws) =>
      val (_, nVocab, slope, intercept) = rows(src)
      assert(nVocab == ws.length, s"$src vocab size")
      assert(slope < 0.0, s"$src slope must be negative")
      // exact replay of the quantized OLS
      val pts = ws.sortBy(t => (-t._3, t._2)).zipWithIndex.map { case ((_, _, c), i) =>
        def q(x: Double) = BigDecimal(math.log(x) / math.log(2.0) * 1000000.0)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        (q((i + 1).toDouble), q(c.toDouble))
      }
      val n = pts.length.toLong
      val sx = pts.map(p => BigInt(p._1)).sum
      val sy = pts.map(p => BigInt(p._2)).sum
      val sxy = pts.map(p => BigInt(p._1) * p._2).sum
      val sxx = pts.map(p => BigInt(p._1) * p._1).sum
      val expSlope = (n.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble) /
        (n.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble)
      val expIcpt = (sy.toDouble - expSlope * sx.toDouble) / (n.toDouble * 1000000.0)
      assert(slope == expSlope && intercept == expIcpt, s"$src OLS replay")
    }
  }

  test("shardDiversity: conservation, entropy bounds, exact term replay") {
    import spark.implicits._
    val rows = Sharding.shardDiversity(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"source").as[(Long, String)].collect()
    assert(rows.map(_._2).sum == docs.length, "shards partition the corpus")
    val nSources = docs.map(_._2).distinct.length
    rows.foreach { case (sh, nDocs, nSrc, eq12) =>
      assert(nSrc <= nSources && eq12 >= 0L, s"shard $sh bounds")
      // entropy <= log2(n_sources) + per-cell rounding slack
      assert(eq12 <= math.ceil(math.log(nSrc.toDouble) / math.log(2.0) * 1e12).toLong + nSrc,
        s"shard $sh entropy above log2(n_sources)")
      // exact replay
      val mine = docs.filter { case (id, _) =>
        graft.functions.Hashing.md5BucketJvm(s"shard:$id", 1L << 32) % 8 == sh }
      val cells = mine.groupBy(_._2).map(_._2.length.toLong)
      val exp = cells.map { c =>
        val p = c.toDouble / nDocs.toDouble
        BigDecimal(-(p * (math.log(p) / math.log(2.0))) * 1e12)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }.sum
      assert(nDocs == mine.length && eq12 == exp, s"shard $sh replay")
    }
  }

  test("trendingTypes: heap top-k equals the window form per hour") {
    import spark.implicits._
    val got = graft.operators.Relational.trendingTypes(spark, sf)
      .as[(java.sql.Timestamp, String, Long, Int)].collect().toSet
    val hourly = graft.core.Tables.events(spark, sf)
      .select(date_trunc("hour", $"ts").as("hour"), $"event_type")
      .groupBy($"hour", $"event_type").agg(count(lit(1)).as("cnt"))
      .as[(java.sql.Timestamp, String, Long)].collect()
    val want = hourly.groupBy(_._1).toSeq.flatMap { case (h, g) =>
      g.sortBy(t => (-t._3, t._2)).take(3).zipWithIndex
        .map { case ((_, ty, c), i) => (h, ty, c, i + 1) }
    }.toSet
    assert(got == want, "bounded-heap trending must equal the sorted replay")
  }

  test("dupModalityAgreement: set-algebra replay of both detectors") {
    import spark.implicits._
    val row = Similarity.dupModalityAgreement(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().head
    val lex = Dedup.jaccardPairs(spark, sf).select($"x", $"y")
      .as[(Long, Long)].collect().toSet
    val emb = Similarity.embeddingNearDup(spark, sf).select($"x", $"y")
      .as[(Long, Long)].collect().toSet
    val both = lex.intersect(emb)
    assert(row._1 == lex.size && row._2 == emb.size && row._3 == both.size)
    assert(row._4 == lex.union(emb).size, "union count")
    assert(row._4 == row._1 + row._2 - row._3, "inclusion-exclusion")
  }

  test("lengthGini: exact replay; Gini in [0,1); uniform-lengths edge = 0") {
    import spark.implicits._
    val rows = Text.lengthGini(spark, sf)
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"source", $"n_chars").as[(String, Long)].collect()
    docs.groupBy(_._1).foreach { case (src, ds) =>
      val xs = ds.map(_._2).sorted
      val n = xs.length.toLong
      val s0 = xs.map(BigInt(_)).sum
      val s1 = xs.zipWithIndex.map { case (x, i) => BigInt(i + 1) * x }.sum
      val gini = (BigInt(2) * s1 - BigInt(n + 1) * s0).toDouble / (BigInt(n) * s0).toDouble
      val exp = BigDecimal(gini * 1000000.0)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      val got = rows(src)
      assert(got._2 == n && got._3 == s0.toLong && got._4 == exp, s"$src replay")
      assert(got._4 >= 0L && got._4 < 1000000L, s"$src Gini range")
    }
    // degenerate check: equal lengths => Gini exactly 0
    val uni = Seq(("s", 1L, 7L), ("s", 2L, 7L), ("s", 3L, 7L))
      .toDF("source", "doc_id", "n_chars")
    val r = graft.operators.Ranks.groupRowNumber(uni, "i",
      Seq($"source"), Seq($"n_chars".asc, $"doc_id".asc))
    val g = r.groupBy($"source").agg(count(lit(1)).as("n"),
        sum($"n_chars").as("s0"), sum($"i" * $"n_chars").as("s1"))
      .select(((lit(2L) * $"s1" - ($"n" + 1L) * $"s0").cast("double")
        / ($"n" * $"s0").cast("double")).as("gini"))
      .as[Double].collect().head
    assert(g == 0.0, "uniform lengths must give Gini 0")
  }

  test("hillTail: exact driver replay of the order-statistic estimator") {
    import spark.implicits._
    val row = graft.operators.Relational.hillTail(spark, sf)
      .as[(Long, Long, Long, Double)].collect().head
    val counts = graft.core.Tables.events(spark, sf)
      .groupBy($"user_id").count().as[(Long, Long)].collect()
    val kEff = math.min(100L, counts.length - 1L)
    val sorted = counts.sortBy { case (u, x) => (-x, u) }
    def lnq(x: Long) = BigDecimal(math.log(x.toDouble) * 1000000.0)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val sumLnq = sorted.take(kEff.toInt).map(t => lnq(t._2)).sum
    val xk1 = sorted(kEff.toInt)._2
    val denom = sumLnq - kEff * lnq(xk1)
    assert(row._1 == kEff && row._2 == xk1 && row._3 == denom, "order stats")
    assert(row._4 == kEff.toDouble * 1000000.0 / denom.toDouble, "alpha chain")
    assert(row._4 > 0.0, "tail index positive")
  }

  test("signalCorrelation: |r| <= 1, symmetric-pair coverage, exact replay of one pair") {
    import spark.implicits._
    val rows = Text.signalCorrelation(spark, sf)
      .as[(String, String, Long, Double)].collect()
    val feats = Seq("alpha", "len", "mtl", "stop")
    assert(rows.map(r => (r._1, r._2)).toSet ==
      (for { a <- feats; b <- feats if a < b } yield (a, b)).toSet)
    rows.foreach { case (a, b, n, r) =>
      assert(math.abs(r) <= 1.0 + 1e-12, s"($a,$b) |r|=$r")
      assert(n == rows.head._3, "one corpus count")
    }
    // exact replay of (mtl, stop): quantize, exact sums, same chain
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"text").as[String].collect()
    def q(x: Double) = BigDecimal(x * 1000000.0)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val stop = graft.functions.TextFunctions.StopWords.toSet
    val pts = docs.map { t =>
      val ws = t.toLowerCase.split("\\s+")
      val mtl = q(ws.map(_.length).sum.toDouble / ws.length)
      val sr = q(ws.count(stop).toDouble / ws.length)
      (mtl, sr)
    }
    val n = BigInt(pts.length)
    val sx = pts.map(p => BigInt(p._1)).sum; val sy = pts.map(p => BigInt(p._2)).sum
    val sxy = pts.map(p => BigInt(p._1) * p._2).sum
    val sxx = pts.map(p => BigInt(p._1) * p._1).sum
    val syy = pts.map(p => BigInt(p._2) * p._2).sum
    val exp = (n * sxy - sx * sy).toDouble /
      (math.sqrt((n * sxx - sx * sx).toDouble) * math.sqrt((n * syy - sy * sy).toDouble))
    val got = rows.find(r => r._1 == "mtl" && r._2 == "stop").get
    assert(got._4 == exp, s"(mtl,stop) replay: ${got._4} vs $exp")
  }

  test("sourceDupRate: conservation vs clusters and q209's keep picks") {
    import spark.implicits._
    val rows = Dedup.sourceDupRate(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect()
    val labels = Dedup.dedupLabelsStar(spark, sf).as[(Long, Long)].collect()
    val srcs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"source").as[(Long, String)].collect().toMap
    assert(rows.map(_._2).sum == labels.length, "docs partition across sources")
    val clusters = labels.groupBy(_._2).filter(_._2.length >= 2)
    val inClusters = clusters.values.flatten.map(_._1).toSet
    val nonCanon = clusters.values.flatMap { ms =>
      val keep = ms.map(_._1).min; ms.map(_._1).filter(_ != keep)
    }.toSet
    rows.foreach { case (src, n, inC, nc, q6) =>
      assert(inC == inClusters.count(id => srcs(id) == src), s"$src in-cluster")
      assert(nc == nonCanon.count(id => srcs(id) == src), s"$src non-canonical")
      assert(q6 == BigDecimal(nc.toDouble / n.toDouble * 1000000.0)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong, s"$src rate")
    }
    // global consistency: non-canonical mass = docs minus clusters
    assert(rows.map(_._4).sum == clusters.values.map(_.length - 1).sum)
  }

  test("crossLangDups: complete grid, pair conservation, possible-mass and lift laws") {
    import spark.implicits._
    val rows = Dedup.crossLangDups(spark, sf)
      .as[(String, String, Long, Long, Long, Long, Long)].collect()
    val langOf = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"lang").as[(Long, String)].collect().toMap
    val nLangs = langOf.values.toSet.size
    assert(rows.length == nLangs * (nLangs + 1) / 2, "full unordered grid")
    assert(rows.forall { case (a, b, _, _, _, _, _) => a <= b })
    val pairs = Dedup.jaccardPairs(spark, sf)
      .select($"x", $"y").as[(Long, Long)].collect()
    assert(rows.map(_._3).sum == pairs.length, "every pair lands in one cell")
    // possible-pair mass: diagonal c(c-1)/2, off-diagonal ca*cb
    val cOf = langOf.values.groupBy(identity).map { case (l, v) => l -> v.size.toLong }
    rows.foreach { case (a, b, nObs, poss, _, _, liftQ) =>
      val expPoss = if (a == b) cOf(a) * (cOf(a) - 1) / 2 else cOf(a) * cOf(b)
      assert(poss == expPoss, s"($a,$b) possible mass")
      val obs = pairs.count { case (x, y) =>
        val (la, lb) = (langOf(x), langOf(y))
        (if (la <= lb) la else lb) == a && (if (la <= lb) lb else la) == b
      }
      assert(nObs == obs, s"($a,$b) observed count")
      val n = langOf.size.toLong
      val lift = (nObs.toDouble / pairs.length) /
        (poss.toDouble / (n * (n - 1) / 2))
      assert(liftQ == BigDecimal(lift * 1000.0)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong, s"($a,$b) lift")
    }
    // the fixture's dominant-language diagonal must carry lift > 1
    // (near-dups are same-language by construction of the generator)
    assert(rows.filter(r => r._1 == r._2 && r._3 > 0).exists(_._7 > 1000L),
      "some same-language cell duplicates above the independence line")
  }

  test("clusterCohesion: clique/chain split and density replay vs driver recomputation") {
    import spark.implicits._
    val rows = Dedup.clusterCohesion(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    val labels = Dedup.dedupLabelsStar(spark, sf).as[(Long, Long)].collect()
    val labelOf = labels.toMap
    val pairs = Dedup.jaccardPairs(spark, sf)
      .select($"x", $"y").as[(Long, Long)].collect()
    // every observed pair is intra-cluster by construction
    pairs.foreach { case (x, y) => assert(labelOf(x) == labelOf(y)) }
    val szOf = labels.groupBy(_._2).map { case (l, ms) => l -> ms.length.toLong }
    val edgesOf = pairs.groupBy(p => labelOf(p._1))
      .map { case (l, es) => l -> es.length.toLong }
    val clusters = szOf.filter(_._2 >= 2L).map { case (l, sz) =>
      (if (sz == 2) 1L else if (sz <= 4) 2L else if (sz <= 8) 3L else 4L,
        edgesOf.getOrElse(l, 0L), sz * (sz - 1) / 2)
    }.toSeq
    assert(rows.map(_._2).sum == clusters.size.toLong,
      "every size>=2 cluster lands in one bucket")
    rows.foreach { case (b, nC, nClq, nChn, sumE, sumP, dq) =>
      val mine = clusters.filter(_._1 == b)
      assert(nC == mine.size.toLong)
      assert(nClq == mine.count(c => c._2 == c._3).toLong, s"bucket $b cliques")
      assert(nChn == mine.count(c => c._2 < c._3).toLong, s"bucket $b chains")
      assert(nClq + nChn == nC, "cohesion dichotomy")
      assert(sumE == mine.map(_._2).sum && sumP == mine.map(_._3).sum)
      assert(dq == BigDecimal(sumE.toDouble / sumP * 1000000.0)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong, s"bucket $b density")
    }
  }

  test("dupQualityAudit: buckets partition docs and clusters; pooled rates replay") {
    import spark.implicits._
    val rows = Dedup.dupQualityAudit(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    val labels = Dedup.dedupLabelsStar(spark, sf).as[(Long, Long)].collect()
    val nDocs = labels.length.toLong
    val nClusters = labels.groupBy(_._2).size.toLong
    assert(rows.map(_._3).sum == nDocs, "every doc lands in one bucket")
    assert(rows.map(_._2).sum == nClusters, "every cluster lands in one bucket")
    assert(rows.map(_._1).distinct.length == rows.length)
    assert(rows.forall(r => r._1 >= 0 && r._1 <= 4))
    // pooled-rate law vs a driver recomputation on the bucket sums
    val qs = graft.operators.Text.qualityScore(spark, sf)
      .select($"doc_id", $"n_tokens", $"n_stop", $"n_alpha")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val szOf = labels.groupBy(_._2).map { case (l, ms) => l -> ms.length }
    val bucketOf = labels.map { case (id, l) =>
      val sz = szOf(l)
      id -> (if (sz == 1) 0L else if (sz == 2) 1L else if (sz <= 4) 2L
             else if (sz <= 8) 3L else 4L)
    }.toMap
    rows.foreach { case (b, _, _, sumTok, stopQ, alphaQ) =>
      val members = bucketOf.collect { case (id, bb) if bb == b => qs(id) }
      assert(sumTok == members.map(_._2).sum, s"bucket $b token sum")
      val expStop = BigDecimal(members.map(_._3).sum.toDouble / sumTok * 1000000.0)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      assert(stopQ == expStop, s"bucket $b pooled stop rate")
      val expAlpha = BigDecimal(members.map(_._4).sum.toDouble / sumTok * 1000000.0)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      assert(alphaQ == expAlpha, s"bucket $b pooled alpha rate")
    }
  }

  test("ruleAblation: unique/shared split replays the per-doc verdicts") {
    import spark.implicits._
    val perDoc = Text
      .gopherQuality(spark, sf, graft.functions.TextFunctions.StopWords)
      .select($"pass_words", $"pass_mean", $"pass_alpha", $"pass_sym",
        $"pass_req")
      .as[(Boolean, Boolean, Boolean, Boolean, Boolean)].collect()
    val n = perDoc.length.toLong
    val byRule = Seq("words", "mean", "alpha", "sym", "req").zipWithIndex
    def flags(t: (Boolean, Boolean, Boolean, Boolean, Boolean)) =
      Array(t._1, t._2, t._3, t._4, t._5)
    val got = graft.operators.Text.ruleAblation(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet == byRule.map(_._1).toSet)
    byRule.foreach { case (rule, i) =>
      val fail = perDoc.count(t => !flags(t)(i)).toLong
      val uniq = perDoc.count { t =>
        val f = flags(t)
        !f(i) && f.indices.forall(j => j == i || f(j))
      }.toLong
      val (_, gf, gu, gs, rq) = got(rule)
      assert(gf == fail && gu == uniq && gs == fail - uniq, s"rule $rule")
      assert(rq == BigDecimal(uniq.toDouble / n * 1000000.0)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong, s"rule $rule lift")
    }
    // unique kills partition into disjoint doc sets: their sum can never
    // exceed the total rejected mass
    val rejected = perDoc.count(t => !flags(t).forall(identity)).toLong
    assert(got.values.map(_._3).sum <= rejected, "unique kills bounded")
  }

  test("twoNNDim: exact two-NN distances and the MLE fold replay") {
    import spark.implicits._
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect()
      .map { case (id, e) => (id, e.map(x => math.round(x.toDouble * 1e7))) }
    def dsq(a: Array[Long], b: Array[Long]): Long = {
      var na = 0L; var nb = 0L; var dot = 0L; var i = 0
      while (i < a.length) {
        na += a(i) * a(i); nb += b(i) * b(i); dot += a(i) * b(i); i += 1
      }
      na + nb - 2 * dot
    }
    val lnmus = vecs.map { case (id, q) =>
      val ds = vecs.iterator.filter(_._1 != id).map(v => dsq(q, v._2)).toArray
      scala.util.Sorting.quickSort(ds)
      (ds(0), ds(1))
    }.collect { case (d1, d2) if d1 > 0 =>
      math.round(0.5 * math.log(d2.toDouble / d1.toDouble) * 1e6)
    }
    val Array((nPts, nUsed, sumQ6, idQ3)) =
      graft.operators.Similarity.twoNNDim(spark, sf)
        .as[(Long, Long, Long, Long)].collect()
    assert(nPts == vecs.length.toLong)
    assert(nUsed == lnmus.length.toLong, "zero-distance points excluded")
    assert(sumQ6 == lnmus.sum, "exact integer ln-mu fold")
    assert(idQ3 == math.round(nUsed.toDouble * 1e6 / sumQ6.toDouble * 1000.0))
    // the 64-dim synthetic embeddings must report a plausible intrinsic
    // dimension: positive and no larger than the ambient dimension
    assert(idQ3 > 0 && idQ3 <= 64000, s"intrinsic dim sane: $idQ3")
  }

  test("ksSplitAudit: exact ECDF supremum and argmax replay") {
    import spark.implicits._
    val rows = Sampling.ksSplitAudit(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(rows.keySet == Set("validation", "test"))
    val lens = Sampling.hashSplit(spark, sf).select($"doc_id", $"split")
      .join(spark.read.parquet(s"$sf/documents.parquet")
        .select($"doc_id", $"n_chars"), "doc_id")
      .select($"split", $"n_chars").as[(String, Long)].collect()
    val domain = lens.map(_._2).distinct.sorted
    def cdfCounts(split: String): (Long, Map[Long, Long]) = {
      val mine = lens.filter(_._1 == split).map(_._2)
      var cum = 0L
      val m = domain.map { x =>
        cum += mine.count(_ == x).toLong; x -> cum
      }.toMap
      (mine.length.toLong, m)
    }
    val (nT, cdfT) = cdfCounts("train")
    Seq("validation", "test").foreach { s =>
      val (nS, cdfS) = cdfCounts(s)
      val nums = domain.map(x => (cdfT(x) * nS - cdfS(x) * nT).abs -> x)
      val mx = nums.map(_._1).max
      val at = nums.filter(_._1 == mx).map(_._2).min
      val (_, gNt, gNs, gAt, gKs) = rows(s)
      assert(gNt == nT && gNs == nS, s"$s counts")
      assert(gAt == at, s"$s argmax length")
      assert(gKs == math.round(mx.toDouble / (nT.toDouble * nS) * 1e6), s"$s D")
      // KS is a probability-scale statistic
      assert(gKs >= 0 && gKs <= 1000000L, s"$s bound")
    }
  }

  test("positionalEntropy: per-position distribution replay and bounds") {
    import spark.implicits._
    val rows = Text.positionalEntropy(spark, sf)
      .as[(Long, Long, Long, Long, String, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(lower($"text")).as[String].collect()
      .map(_.split("\\s+", -1).take(16))
    (1 to 16).foreach { p =>
      val at = toks.filter(_.length >= p).map(_(p - 1))
      val counts = at.groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }
      val n = at.length.toLong
      val h = counts.values.map { c =>
        val term = c.toDouble / n *
          (math.log(n.toDouble / c) / math.log(2.0)) * 1e6
        BigDecimal(term).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }.sum
      val (_, nDocs, nTypes, hQ6, topTok, topCnt, topFrac) = rows(p.toLong)
      assert(nDocs == n && nTypes == counts.size.toLong, s"pos $p counts")
      assert(hQ6 == h, s"pos $p entropy")
      val best = counts.toSeq.map { case (w, c) => (c, w) }.max
      assert((topCnt, topTok) == best, s"pos $p modal token")
      assert(topFrac == math.round(topCnt.toDouble / nDocs * 1e6))
      // entropy of an n_types-ary distribution is bounded by log2(types)
      assert(hQ6 <= math.ceil(math.log(nTypes.toDouble) / math.log(2.0) * 1e6)
        .toLong + nTypes, s"pos $p bound")
    }
  }

  test("centroidDriftAudit: exact half-centroid and coherence replay") {
    import spark.implicits._
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect()
      .map { case (id, e) => (id, e.map(x => math.round(x.toDouble * 1e7))) }
    val bound = (vecs.map(_._1).min + vecs.map(_._1).max) / 2
    val halves = vecs.groupBy(_._1 <= bound)
    def dimSums(h: Boolean): Array[BigInt] = {
      val dims = halves(h).head._2.length
      val s = Array.fill(dims)(BigInt(0))
      halves(h).foreach { case (_, q) =>
        var i = 0; while (i < dims) { s(i) += q(i); i += 1 }
      }
      s
    }
    val (sa, sb) = (dimSums(true), dimSums(false))
    def dot(a: Array[BigInt], b: Array[BigInt]): BigInt =
      a.zip(b).map { case (x, y) => x * y }.sum
    val ccQ6 = math.round(dot(sa, sb).toDouble /
      (math.sqrt(dot(sa, sa).toDouble) * math.sqrt(dot(sb, sb).toDouble)) * 1e6)
    def coh(h: Boolean): Long = {
      val s = if (h) sa else sb
      val n2s = dot(s, s)
      val eqs = halves(h).map { case (_, q) =>
        val d = q.zip(s).map { case (v, sv) => BigInt(v) * sv }.sum
        val n2v = q.map(v => BigInt(v) * BigInt(v)).sum
        math.round(d.toDouble /
          (math.sqrt(n2v.toDouble) * math.sqrt(n2s.toDouble)) * 1e6)
      }
      math.round(eqs.sum.toDouble / eqs.length)
    }
    val Array((nE, nL, gotCc, cohE, cohL)) =
      graft.operators.Similarity.centroidDriftAudit(spark, sf)
        .as[(Long, Long, Long, Long, Long)].collect()
    assert(nE == halves(true).length.toLong && nL == halves(false).length.toLong)
    assert(gotCc == ccQ6, "half-centroid cosine")
    assert(cohE == coh(true) && cohL == coh(false), "coherence replay")
    // cosines are q6 probabilities in [-1, 1]
    Seq(gotCc, cohE, cohL).foreach(v => assert(v.abs <= 1000000L))
  }

  test("sourceQualityPanel: rollup replays the q136 calibration per source") {
    import spark.implicits._
    val perDoc = Text.qualityRank(spark, sf)
      .select($"doc_id", $"pr", $"decile")
      .join(spark.read.parquet(s"$sf/documents.parquet")
        .select($"doc_id", $"source"), "doc_id")
      .as[(Long, Double, Long, String)].collect()
    val expected = perDoc.groupBy(_._4).map { case (s, rs) =>
      val prqs = rs.map(r => BigDecimal(r._2 * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      val top = rs.count(_._3 == 9L).toLong
      (s, rs.size.toLong, math.round(prqs.sum.toDouble / rs.size),
        top, math.round(top.toDouble / rs.size * 1e6))
    }.toSet
    val got = Text.sourceQualityPanel(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(got == expected, "per-source quality panel replay")
    // percentile means live in [0, 1e6]; the panel must discriminate
    val means = got.map(_._3)
    assert(means.forall(m => m >= 0 && m <= 1000000L))
    assert(means.max > means.min, "sources differ in calibrated quality")
  }

  test("piiBySource: rollup equals the per-doc q60 scan joined to sources") {
    import spark.implicits._
    val perDoc = Text.piiScan(spark, sf)
      .join(spark.read.parquet(s"$sf/documents.parquet")
        .select($"doc_id", $"source"), "doc_id")
      .select($"source", $"n_email", $"n_phone", $"n_ssn", $"n_ip")
      .as[(String, Long, Long, Long, Long)].collect()
    val expected = perDoc.groupBy(_._1).map { case (s, rs) =>
      val flagged = rs.count(r => r._2 > 0 || r._3 > 0 || r._4 > 0 || r._5 > 0)
      (s, rs.size.toLong, flagged.toLong, rs.map(_._2).sum, rs.map(_._3).sum,
        rs.map(_._4).sum, rs.map(_._5).sum,
        math.round(flagged.toDouble / rs.size * 1e6))
    }.toSet
    val got = Text.piiBySource(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(got == expected, "per-source PII rollup replay")
    // the synthetic corpus is PII-free BY CONSTRUCTION (q60's spec
    // drives the regexes on adversarial strings instead) — the healthy
    // all-zero panel is exactly what a clean-corpus review reads
    assert(got.forall(r => r._3 == 0L && r._8 == 0L), "clean corpus reads clean")
    // discrimination: the same rollup over a planted-PII frame flags it
    val planted = Seq(
      (1L, "contact me at a.b@example.com or 555-123-4567", "s1"),
      (2L, "nothing sensitive here", "s1"),
      (3L, "ssn 123-45-6789 from 10.0.0.1", "s2"))
      .toDF("doc_id", "text", "source")
    import graft.functions.TextFunctions.PiiPatterns
    val hits = planted.select(PiiPatterns.map { case (k, p) =>
      regexp_count($"text", lit(p)).cast("long").as(s"n_$k")
    }: _*).as[(Long, Long, Long, Long)].collect()
    assert(hits(0) == ((1L, 1L, 0L, 0L)), "email+phone doc")
    assert(hits(1) == ((0L, 0L, 0L, 0L)), "clean doc")
    assert(hits(2)._3 == 1L && hits(2)._4 == 1L, "ssn+ip doc")
  }

  test("daviesBouldin: scatter/gap/ratio replay off the shared quantizer") {
    import spark.implicits._
    val asn = Similarity.kmeansAssign(spark, sf)
      .select($"cluster", $"dist2").as[(Long, Long)].collect()
    val cents = Similarity.lloydCentroids(spark, sf, 8, 2)
      .sortBy(_._1).toMap
    val scat = asn.groupBy(_._1).map { case (c, rs) =>
      val mds = rs.map(r => math.round(math.sqrt(r._2.toDouble)))
      c -> ((rs.size.toLong, math.round(mds.sum.toDouble / rs.size)))
    }
    def gap(a: Long, b: Long): Long = {
      val d2 = cents(a).zip(cents(b))
        .map { case (x, y) => BigInt(x - y) * BigInt(x - y) }.sum
      math.round(math.sqrt(d2.toDouble))
    }
    val expected = scat.keys.map { c =>
      val (n, s) = scat(c)
      val cands = scat.keys.filter(j => j != c && gap(c, j) > 0).map { j =>
        (math.round((s + scat(j)._2).toDouble / gap(c, j) * 1e6), -j)
      }
      val (r, nj) = cands.max
      (c, n, s, -nj, r)
    }.toSet
    val got = Similarity.daviesBouldin(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == expected, "Davies-Bouldin panel replay")
    // components are positive and never name the cluster itself
    assert(got.forall(r => r._5 > 0 && r._4 != r._1))
  }

  test("axisIsotropy: exact variance-share and participation-ratio replay") {
    import spark.implicits._
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"embedding").as[Array[Float]].collect()
      .map(_.map(x => math.round(x.toDouble * 1e7)))
    val dims = vecs.head.length
    val n = vecs.length.toLong
    val vnums = (0 until dims).map { i =>
      val xs = vecs.map(_(i))
      val sx = xs.map(BigInt(_)).sum
      val sxx = xs.map(x => BigInt(x) * BigInt(x)).sum
      BigInt(n) * sxx - sx * sx
    }
    val sv = vnums.sum
    val sqs = vnums.map { v =>
      BigDecimal(v.toDouble / sv.toDouble * 1e9)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    val topI = vnums.indices.minBy(i => (-vnums(i), i))
    val ssq = sqs.map(s => BigInt(s) * BigInt(s)).sum
    val expPr = math.round(1.0e18 / ssq.toDouble * 1000.0)
    val Array((gN, gD, gTop, gShare, gPr)) =
      graft.operators.Similarity.axisIsotropy(spark, sf)
        .as[(Long, Long, Long, Long, Long)].collect()
    assert(gN == n && gD == dims.toLong)
    assert(gTop == topI.toLong && gShare == sqs(topI), "dominant axis")
    assert(gPr == expPr, "participation ratio")
    // PR is bounded by the ambient dimension (up to quantization slack)
    assert(gPr > 0 && gPr <= dims * 1000L + dims, "PR within ambient dims")
  }

  test("padSplitPlan: brute-force optimality over every candidate boundary") {
    import spark.implicits._
    val lens = spark.read.parquet(s"$sf/documents.parquet")
      .select($"n_chars").as[Long].collect()
    val n = lens.length.toLong
    val s = lens.map(BigInt(_)).sum
    val mx = lens.max
    def waste2(b: Long): BigInt =
      lens.map(l => BigInt(if (l <= b) b - l else mx - l)).sum
    val candidates = lens.distinct.map(b => (waste2(b), b)).sortBy(identity)
    val (bestW, bestB) = candidates.head
    val waste1 = BigInt(mx) * n - s
    val Array((gN, gMx, gB, gW1, gW2, gSav)) =
      graft.operators.Sampling.padSplitPlan(spark, sf)
        .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(gN == n && gMx == mx)
    assert(gB == bestB && BigInt(gW2) == bestW, "argmin boundary + waste")
    assert(BigInt(gW1) == waste1 && gW2 <= gW1, "two buckets never worse")
    assert(gSav == math.round((waste1 - bestW).toDouble / waste1.toDouble * 1e6))
    // optimality against EVERY candidate, not just the reported one
    candidates.foreach { case (w, b) => assert(bestW <= w, s"boundary $b") }
  }
}
