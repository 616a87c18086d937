package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Contamination, Dedup, Sampling, Similarity, Text}

/** The corpus-assembly operator family (q50–q55): normalization,
  * repetition signals, deterministic split/sample/mixture, and semantic
  * dedup. Each also has a full DuckDB oracle — these tests pin the
  * engine-side invariants the oracle compare can't express (determinism
  * across runs, stratum balance, LSH-vs-exact containment).
  */
class CurationOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("normalizeAdjacent collapses runs and only runs") {
    import spark.implicits._
    val out = Text.normalizeAdjacent(spark, sf)
      .select($"doc_id", $"norm_text", $"n_collapsed")
      .as[(Long, String, Long)].collect()
    assert(out.nonEmpty)
    // no adjacent duplicates survive in any normalized text
    out.foreach { case (id, txt, _) =>
      val ws = txt.split(" ")
      ws.sliding(2).foreach {
        case Array(a, b) => assert(a != b, s"doc $id kept adjacent dup '$a'")
        case _ =>
      }
    }
    // the corpus's limited vocab makes stutter near-certain somewhere
    assert(out.exists(_._3 > 0), "expected at least one collapsed run")
    // token conservation: kept + collapsed = original token count
    val orig = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.lower($"text"), "\\s+")).as("n"))
      .as[(Long, Int)].collect().toMap
    out.foreach { case (id, txt, c) =>
      assert(txt.split(" ").length + c == orig(id))
    }
  }

  test("repetitionStats fractions are in range and consistent") {
    import spark.implicits._
    val rows = Text.repetitionStats(spark, sf)
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(rows.length == 500)
    rows.foreach { case (id, n, top, dup, bdup) =>
      assert(n > 0)
      assert(top > 0.0 && top <= 1.0, s"doc $id top_token_frac $top")
      // a repeated top token is itself a duplicated token
      assert(dup >= 0.0 && dup <= 1.0 && (top <= 1.0 / n.toDouble || dup >= top))
      assert(bdup >= 0.0 && bdup <= 1.0)
    }
  }

  test("hashSplit is deterministic, total, and ~80/10/10") {
    import spark.implicits._
    val a = Sampling.hashSplit(spark, sf).as[(Long, Long, String)].collect()
    val b = Sampling.hashSplit(spark, sf).as[(Long, Long, String)].collect()
    assert(a.sortBy(_._1).sameElements(b.sortBy(_._1)), "split drifted between runs")
    val byGroup = a.groupBy(_._3).view.mapValues(_.length).toMap
    assert(byGroup.values.sum == 500)
    // binomial(500, 0.8/0.1/0.1) with generous slack
    assert(byGroup("train") > 350 && byGroup("train") < 450, byGroup.toString)
    assert(byGroup("validation") > 20 && byGroup("validation") < 90, byGroup.toString)
    assert(byGroup("test") > 20 && byGroup("test") < 90, byGroup.toString)
  }

  test("stratifiedSample yields equal-size strata of the rarest lang") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val minLang = docs.groupBy($"lang").count()
      .agg(org.apache.spark.sql.functions.min($"count")).as[Long].head()
    val sample = Sampling.stratifiedSample(spark, sf)
      .as[(Long, String, Long)].collect()
    val perLang = sample.groupBy(_._2).view.mapValues(_.length).toMap
    assert(perLang.values.toSet == Set(minLang.toInt),
      s"strata not equal to min-lang count $minLang: $perLang")
    // membership is rank-by-hash: rank column is 1..minLang within each lang
    sample.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.sameElements(1L to minLang))
    }
  }

  test("stratifiedSample sub-strata decomposition equals the single-window form") {
    import spark.implicits._
    // the default decomposes the per-lang rank over (lang, hash-cell)
    // sub-strata; membership AND ranks must be bit-identical to the
    // single global window per language (the oracle-shaped rung)
    val cell = Sampling.stratifiedSample(spark, sf)
      .as[(Long, String, Long)].collect().toSet
    val global = Sampling.stratifiedSampleGlobalWindow(spark, sf)
      .as[(Long, String, Long)].collect().toSet
    assert(cell == global, "sub-strata rank decomposition drifted from the global window")
    // determinism across invocations (fresh plan, same result)
    val again = Sampling.stratifiedSample(spark, sf)
      .as[(Long, String, Long)].collect().toSet
    assert(again == cell)
    // and no window in the default plan sorts by (h, doc_id) under a
    // lang-only partition — that is the single-window signature (the
    // corpus-side cell window partitions by (lang, h) and sorts doc_id
    // alone; the offset window runs on the tiny histogram)
    val plan = Sampling.stratifiedSample(spark, sf)
      .queryExecution.optimizedPlan.toString
    val globalWindowSig = """h#\d+L? ASC NULLS FIRST, doc_id#\d+L? ASC NULLS FIRST""".r
    assert(globalWindowSig.findFirstIn(plan).isEmpty,
      "default plan still ranks (h, doc_id) under a per-lang window")
  }

  test("packSequences prefix-sum decomposition equals the single-window form") {
    import spark.implicits._
    val cell = Sampling.packSequences(spark, sf)
      .as[(Long, String, Long, Long, Long)].collect().toSet
    val global = Sampling.packSequencesGlobalWindow(spark, sf)
      .as[(Long, String, Long, Long, Long)].collect().toSet
    assert(cell == global,
      "distributed running-sum decomposition drifted from the per-source window")
    // at spec scale the rank dial's window arm legitimately runs the
    // per-source running sum (the corpus sits under windowMaxRows, so
    // no source can exceed one sorted task); forcing windowMaxRows=0
    // must re-engage the range-cell decomposition — no running-sum
    // window partitioned by source alone (the single-window signature,
    // one sort partition per source at scale), in-cell windows on
    // (__pid, source), offset scan over the tiny cell table
    // budget 2047 ≠ the memoized default entry, so the machinery arm
    // builds fresh under the forced conf instead of reading the memo
    spark.conf.set("spark.graft.rank.windowMaxRows", "0")
    val plan = try Sampling.packSequences(spark, sf, budget = 2047)
        .queryExecution.optimizedPlan.toString
      finally spark.conf.unset("spark.graft.rank.windowMaxRows")
    val sig = """windowspecdefinition\(source#\d+, doc_id#\d+L? ASC""".r
    assert(sig.findFirstIn(plan).isEmpty,
      s"machinery arm still runs the per-source running-sum window:\n$plan")
    assert(plan.contains("__pid") || plan.contains("LogicalRDD")
        || plan.contains("InMemoryRelation"),
      s"expected the range-cell decomposition markers in the plan:\n$plan")
  }

  test("watermarkAdvisor decomposition equals the single-window form") {
    import spark.implicits._
    val dec = graft.operators.Windowed.watermarkAdvisor(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSet
    val win = graft.operators.Windowed.watermarkAdvisorWindow(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(dec == win,
      "distributed running-max/rank decomposition drifted from the per-type windows")
    // at spec scale the rank dial's window arm legitimately runs the
    // per-type windows over the pinned events (no type can exceed the
    // counted bound); forcing windowMaxRows=0 must re-engage the
    // decomposition, with the same values and no per-type sequential
    // window (one sort partition per type at scale)
    spark.conf.set("spark.graft.rank.windowMaxRows", "0")
    val (forced, plan) = try {
      val df = graft.operators.Windowed.watermarkAdvisor(spark, sf)
      (df.as[(String, Long, Long, Long, Long, Long, Long)].collect().toSet,
        df.queryExecution.optimizedPlan.toString)
    } finally spark.conf.unset("spark.graft.rank.windowMaxRows")
    assert(forced == win, "machinery arm drifted from the per-type windows")
    val sig = """windowspecdefinition\(event_type#\d+, (event_id|late_us)#\d+L? ASC""".r
    assert(sig.findFirstIn(plan).isEmpty,
      s"machinery arm still runs a per-type sequential window:\n$plan")
    assert(plan.contains("LogicalRDD"),
      s"expected the pinned decomposition base in the plan:\n$plan")
  }

  test("surprisalMixture: weights normalize, tilt follows excess, mass conserved") {
    import spark.implicits._
    val rows = Sampling.surprisalMixture(spark, sf)
      .as[(String, Long, Long, Long, Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    assert(math.abs(rows.map(_._6).sum - 1.0) < 1e-9, "weights sum to 1")
    assert(math.abs(rows.map(_._7).sum - 100000.0) < 1e-4,
      "expected docs sum to the budget")
    rows.foreach { case (src, _, _, excess, tilt, w, _) =>
      assert(w > 0.0, s"$src weight positive")
      if (excess > 0) assert(tilt > 1000000L, s"$src harder => upweighted")
      if (excess < 0) assert(tilt < 1000000L, s"$src easier => damped")
      assert(tilt >= 100000L, s"$src tilt floored at 0.1x")
      assert(tilt == math.max(100000L, 1000000L + 4L * excess), s"$src tilt law")
    }
  }

  test("domainMixture weights rebalance to uniform") {
    import spark.implicits._
    val rows = Sampling.domainMixture(spark, sf)
      .select($"lang", $"source", $"n_docs", $"frac", $"weight")
      .as[(String, String, Long, Double, Double)].collect()
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-9)
    // applying the weights equalizes every group's effective share
    val shares = rows.map(r => r._4 * r._5)
    shares.foreach(s => assert(math.abs(s - 1.0 / rows.length) < 1e-12))
  }

  test("semanticDedup drops exactly the higher-id member of each near-dup pair") {
    import spark.implicits._
    val pairs = Similarity.embeddingNearDup(spark, sf)
      .select($"x", $"y").as[(Long, Long)].collect()
    val losers = pairs.map(_._2).toSet
    val kept = Similarity.semanticDedup(spark, sf)
      .select($"vec_id").as[Long].collect().toSet
    val all = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id").as[Long].collect().toSet
    assert(kept == all -- losers)
    // the LSH pair generator under-approximates (documented recall
    // physics at cos≈0.4) but must stay a SUBSET of the exact pairs —
    // precision 1 via the exact re-check
    val lshPairs = Similarity.embeddingNearDupLsh(spark, sf)
      .select($"x", $"y").as[(Long, Long)].collect().toSet
    assert(lshPairs.subsetOf(pairs.toSet))
    val keptLsh = Similarity.semanticDedup(spark, sf,
        pairGen = Similarity.embeddingNearDupLsh(_, _, _))
      .select($"vec_id").as[Long].collect().toSet
    assert(kept.subsetOf(keptLsh), "LSH variant must never drop a non-duplicate")
  }

  test("bloomDecontaminate is row-identical to the exact dictionary join") {
    import spark.implicits._
    val exact = Contamination.decontaminate(spark, sf)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    val bloom = Contamination.bloomDecontaminate(spark, sf)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(bloom.sameElements(exact),
      "Bloom prune + exact re-check must never change the answer")
    assert(exact.exists(_._3), "fixture corpus has contaminated docs")
    // a smaller (lossier) filter is still exact — FPs die in the re-check
    val tiny = Contamination.bloomDecontaminate(spark, sf, logM = 10)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(tiny.sameElements(exact), "high-FP Bloom must still be exact")
  }

  test("bloomFprAudit: Bloom guarantee, counts replay, formula identities") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val Array((m, k, bits, nProbes, nMembers, nFp, nFn, empQ9, predQ9)) =
      Contamination.bloomFprAudit(spark, sf)
        .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)]
        .collect()
    assert(m == (1L << 17) && k == 3L)
    // the Bloom guarantee: a true member can never be rejected
    assert(nFn == 0L, "false negatives are a build bug")
    // occupancy is bounded by insertions and by the filter width
    assert(bits > 0 && bits <= m)
    // probe-set replay from the raw shingle streams
    def grams(evalSide: Boolean) = {
      import graft.functions.{Hashing, TextFunctions}
      val b = pmod(Hashing.md5Bits32(
        concat(lit("eval:"), $"doc_id".cast("string")), 1), lit(100L))
      spark.read.parquet(s"$sf/documents.parquet")
        .select($"doc_id", TextFunctions.tokens($"text").as("ws"), b.as("b"))
        .filter(if (evalSide) $"b" < 5 else $"b" >= 5)
        .select(explode(Hashing.shingles($"ws", 5)).as("s"))
        .distinct().as[String].collect().toSet
    }
    val ev = grams(evalSide = true)
    val tg = grams(evalSide = false)
    assert(nProbes == tg.size.toLong, "probe stream = distinct train grams")
    assert(nMembers == (tg & ev).size.toLong, "members = train ∩ eval")
    assert(bits <= 3L * ev.size, "≤ k bits per inserted gram")
    // formula identities off the row's own integers
    assert(empQ9 == math.round(nFp.toDouble / (nProbes - nMembers) * 1e9))
    assert(predQ9 == math.round(
      bits.toDouble * bits * bits / (m.toDouble * m * m) * 1e9))
    // the audit must exercise the FP path on this fixture's filter load
    assert(nFp >= 0 && nFp <= nProbes - nMembers)
  }

  test("sourceConcentration: exact HHI / coverage-rank replay and bounds") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val masses = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy($"source").agg(sum($"n_chars").as("m"))
      .as[(String, Long)].collect()
    val mm = masses.map(r => BigInt(r._2)).sum
    val sq = masses.map(r => BigInt(r._2) * BigInt(r._2)).sum
    val ordered = masses.sortBy(r => (-r._2, r._1))
    val cums = ordered.scanLeft(BigInt(0))(_ + _._2).tail
    def kAt(num: Int, den: Int): Long =
      (cums.indexWhere(c => c * den >= mm * num) + 1).toLong
    val Array((n, tot, hhi, k50, k90, topS, topShare)) =
      graft.operators.Sampling.sourceConcentration(spark, sf)
        .as[(Long, Long, Long, Long, Long, String, Long)].collect()
    assert(n == masses.length.toLong && BigInt(tot) == mm)
    assert(hhi == math.round(sq.toDouble / (mm.toDouble * mm.toDouble) * 1e9))
    assert(k50 == kAt(1, 2) && k90 == kAt(9, 10), "coverage ranks")
    assert(topS == ordered.head._1 &&
      topShare == math.round(ordered.head._2.toDouble / mm.toDouble * 1e6))
    // 1/n <= HHI <= 1; coverage ranks are ordered and bounded
    assert(hhi >= 1000000000L / n && hhi <= 1000000000L)
    assert(k50 >= 1 && k50 <= k90 && k90 <= n)
  }

  test("neymanAllocation: exact stratum replay; budget conservation") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val lens = spark.read.parquet(s"$sf/documents.parquet")
      .select($"source", $"n_chars").as[(String, Long)].collect()
    val strata = lens.groupBy(_._1).map { case (s, rs) =>
      val xs = rs.map(_._2)
      val n = xs.length.toLong
      val sx = xs.map(BigInt(_)).sum
      val sxx = xs.map(x => BigInt(x) * BigInt(x)).sum
      val sd = if (n > 1)
        math.sqrt((BigInt(n) * sxx - sx * sx).toDouble / (n.toDouble * (n - 1)))
      else 0.0
      (s, n, sd, math.round(n.toDouble * sd))
    }.toSeq
    val nn = strata.map(_._2).sum
    val sw = strata.map(_._4).sum
    val expected = strata.map { case (s, n, sd, wq) =>
      val prop = math.round(1000.0 * n / nn)
      val ney = if (sw > 0) math.round(1000.0 * wq / sw) else 0L
      (s, n, math.round(sd * 1000.0), prop, ney, ney - prop)
    }.toSet
    val got = Sampling.neymanAllocation(spark, sf)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(got == expected, "Neyman allocation replay")
    // both allocations conserve the budget up to per-source rounding
    val rows = got.toSeq
    assert(math.abs(rows.map(_._4).sum - 1000L) <= rows.size.toLong)
    assert(math.abs(rows.map(_._5).sum - 1000L) <= rows.size.toLong)
    // deltas are a zero-sum reallocation up to the same rounding slack
    assert(math.abs(rows.map(_._6).sum) <= 2L * rows.size)
  }

  test("qualityKnapsack: greedy walk replay; budget and monotonicity laws") {
    import spark.implicits._
    val rows = Sampling.qualityKnapsack(spark, sf)
      .as[(String, Long, Long, Long, Long, Long)].collect().sortBy(_._2)
    val budget = rows.head._5
    assert(rows.forall(_._5 == budget))
    // the greedy order is (quality DESC, source); takes are monotone
    // nonincreasing along it: 1e6..., one partial, then 0...
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 > b._3 || (a._3 == b._3 && a._1 < b._1), "total order")
      assert(a._6 >= b._6, "take monotone along the greedy order")
    }
    assert(rows.count(t => t._6 > 0L && t._6 < 1000000L) <= 1,
      "at most one boundary source")
    // exact budget conservation: taken mass == budget (the partial
    // fraction is the only rounding, bounded by its own mass)
    val taken = rows.map(t => t._4.toDouble * t._6 / 1e6).sum
    assert(math.abs(taken - budget.toDouble) <= rows.map(_._4).max / 1e6 + 1,
      "taken mass ~= budget")
    // replay the walk off the row's own integers
    var cum = 0L
    rows.foreach { case (_, _, _, m, b, take) =>
      val exp = if (cum + m <= b) 1000000L
        else if (cum >= b) 0L
        else math.round((b - cum).toDouble / m * 1e6)
      assert(take == exp, "greedy take replay")
      cum += m
    }
  }

  test("temperatureMixture flattens toward uniform under the sqrt law") {
    import spark.implicits._
    val rows = Sampling.temperatureMixture(spark, sf)
      .as[(String, Long, Double, Double, Double)].collect()
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-9)
    val total = rows.map(_._2).sum.toDouble
    rows.foreach { case (s, n, frac, w, exp) =>
      assert(math.abs(frac - n / total) < 1e-12, s)
      assert(math.abs(exp - w * 100000.0) < 1e-6, s)
    }
    // the sqrt law: weight ratios are the square roots of share ratios
    for (a <- rows; b <- rows if a._2 > 0 && b._2 > 0) {
      val expect = math.sqrt(a._2.toDouble / b._2.toDouble)
      assert(math.abs(a._4 / b._4 - expect) < 1e-6,
        s"${a._1}/${b._1} ratio")
    }
  }

  test("chunkDedup conserves chunks/tokens and keeps one owner per fingerprint") {
    import spark.implicits._
    val rows = Dedup.chunkDedup(spark, sf)
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(rows.length == 500)
    val chunks = Text.chunk(spark, sf, 16, 16)
      .select($"doc_id", $"chunk_text", $"n_tokens")
      .as[(Long, String, Long)].collect()
    assert(rows.map(_._2).sum == chunks.length, "chunk conservation")
    // kept chunks = one per distinct fingerprint, corpus-wide
    val kept = rows.map(r => r._2 - r._3).sum
    assert(kept == chunks.map(_._2).distinct.length, "one owner per fingerprint")
    assert(rows.map(_._3).sum > 0, "fixture near-dups must collide at chunk level")
    rows.foreach { case (id, nc, dup, keptToks, frac) =>
      assert(dup <= nc, s"doc $id")
      assert(frac >= 0.0 && frac <= 1.0, s"doc $id frac")
      val myToks = chunks.filter(_._1 == id).map(_._3).sum
      assert(keptToks <= myToks, s"doc $id tokens")
    }
  }

  test("pivot's closed event-type vocabulary actually holds on the fixture") {
    import spark.implicits._
    // q102 derives n_total as the row-sum of five hard-coded type
    // columns; this pin makes a fixture regen with a new/NULL type fail
    // HERE, loudly, instead of as an oracle hash mystery
    val types = graft.core.Tables.events(spark, sf)
      .select($"event_type").distinct()
      .as[String].collect().toSet
    assert(types == Set("click", "error", "purchase", "signup", "view"),
      s"q102's pivot value list no longer covers the data: $types")
  }

  test("chunk windows tile every document with the declared stride/overlap") {
    import spark.implicits._
    val chunks = Text.chunk(spark, sf, chunkSize = 32, stride = 24)
      .as[(Long, Long, String, Long)].collect()
    val byDoc = chunks.groupBy(_._1)
    val nToks = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.lower($"text"), "\\s+")).as("n"))
      .as[(Long, Int)].collect().toMap
    byDoc.foreach { case (id, cs) =>
      val n = nToks(id)
      // chunk count = number of stride starts below n
      assert(cs.length == (n + 23) / 24, s"doc $id: ${cs.length} chunks for $n tokens")
      // chunk ids are 0..k-1; every chunk except possibly the last is full
      val sorted = cs.sortBy(_._2)
      assert(sorted.map(_._2).sameElements(0L until cs.length.toLong))
      sorted.dropRight(1).foreach { c =>
        assert(c._4 == 32 || n - c._2 * 24 < 32, s"doc $id chunk ${c._2} short")
      }
      // token conservation at the text level: each chunk's text has
      // n_tokens tokens
      sorted.foreach(c => assert(c._3.split(" ").length == c._4))
    }
  }

  test("packSequences lays docs contiguously within each source shard") {
    import spark.implicits._
    val rows = Sampling.packSequences(spark, sf, budget = 2048)
      .as[(Long, String, Long, Long, Long)].collect()
    rows.groupBy(_._2).foreach { case (_, shard) =>
      val inOrder = shard.sortBy(_._1)
      var cum = 0L
      inOrder.foreach { case (_, _, n, packId, off) =>
        assert(packId == cum / 2048, s"pack id mismatch at cum $cum")
        assert(off == cum % 2048, s"offset mismatch at cum $cum")
        cum += n
      }
    }
  }

  test("labelCentroids matches a driver-side exact mean") {
    import spark.implicits._
    val cents = Similarity.labelCentroids(spark, sf)
      .as[(Int, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    val raw = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"label", $"embedding").as[(Int, Seq[Float])].collect()
    raw.groupBy(_._1).foreach { case (label, vs) =>
      val dims = vs.head._2.length
      val exact = (0 until dims).map { i =>
        vs.map(v => math.round(v._2(i).toDouble * 1e7)).sum.toDouble / 1e7 / vs.length
      }
      exact.zip(cents(label)).foreach { case (e, c) =>
        assert(math.abs(e - c) < 1e-12, s"label $label centroid drift")
      }
    }
  }
}
