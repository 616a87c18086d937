package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity, Text}

/** Property checks for the operators without a SQL oracle (rows-only in
  * the driver gate): MinHash/SimHash/ANN against their exact
  * counterparts on the sf0.001 tables.
  */
class DedupSimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("MinHash+LSH finds the exact-Jaccard pairs (recall) and no extras (precision)") {
    import spark.implicits._
    val exact = Dedup.jaccardPairs(spark, sf).select($"x", $"y")
      .as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLsh(spark, sf).select($"x", $"y")
      .as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    // post-filter guarantees precision; banding (32x2) makes recall ~1 at j>=0.5
    assert(lsh.subsetOf(exact))
    assert(lsh.size >= (exact.size * 9) / 10, s"recall too low: ${lsh.size}/${exact.size}")
  }

  test("containment dominates Jaccard and is genuinely directed") {
    import spark.implicits._
    val cont = Dedup.containmentPairs(spark, sf)
      .select($"x", $"y").as[(Long, Long)].collect().toSet
    assert(cont.nonEmpty, "fixture should contain high-containment pairs")
    // C(x→y) ≥ J(x,y) always, so every Jaccard-0.9 pair appears in BOTH
    // directions of the containment-0.9 output
    val jac09 = Dedup.jaccardPairs(spark, sf)
      .filter($"jac" >= 0.9).select($"x", $"y")
      .as[(Long, Long)].collect()
    jac09.foreach { case (x, y) =>
      assert(cont((x, y)) && cont((y, x)), s"pair ($x,$y)")
    }
    // the asymmetric class exists: some doc is contained in a larger one
    // without the reverse holding — the rung q16 structurally misses
    assert(cont.exists { case (x, y) => !cont((y, x)) },
      "expected at least one one-directional containment")
    // df-ceiling variant only prunes evidence — never invents pairs
    val ceiled = Dedup.containmentPairs(spark, sf, maxSeedDf = Some(50))
      .select($"x", $"y").as[(Long, Long)].collect().toSet
    assert(ceiled.subsetOf(cont))
  }

  test("prefix-filter join: exact result, strictly fewer candidates") {
    import spark.implicits._
    val exact = Dedup.jaccardPairs(spark, sf)
      .select($"x", $"y", $"jac").as[(Long, Long, Double)].collect().toSet
    val prefix = Dedup.jaccardPrefixJoin(spark, sf)
      .select($"x", $"y", $"jac").as[(Long, Long, Double)].collect().toSet
    assert(prefix == exact,
      "prefix filtering is lossless — the theorem guarantees recall 1")
    // the point of the prune: candidate volume well below the full
    // inverted-index pair volume (every pair sharing >= 1 shingle)
    val sh = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", org.apache.spark.sql.functions.explode(
        graft.functions.Hashing.shingles(
          graft.functions.TextFunctions.tokens($"text"), 3)).as("s"))
    val full = sh.as("a").join(sh.as("b"),
        $"a.s" === $"b.s" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id").distinct().count()
    val pruned = Dedup.prefixCandidates(spark, sf).count()
    assert(pruned < full / 2,
      s"prefix candidates ($pruned) should be well under the full join ($full)")
    assert(pruned >= exact.size, "candidates must cover every true pair")
  }

  test("slim hash-verify companion: size/collision invariants hold") {
    import spark.implicits._
    // the verify stage's lossless-admission bound prices within-doc
    // hash collisions via (n, col); pin the columns it reasons from:
    // |hs| == |shs| (transform preserves length) and col == n − |distinct hs|
    val bad = Dedup.docShingleArrays(spark, sf)
      .join(Dedup.docShingleHashArrays(spark, sf), "doc_id")
      .filter(org.apache.spark.sql.functions.size($"hs") =!=
          org.apache.spark.sql.functions.size($"shs") ||
        $"col" =!= $"n" - org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.array_distinct($"hs")).cast("long") ||
        $"col" < 0L || $"n" =!= org.apache.spark.sql.functions.size($"shs").cast("long"))
      .count()
    assert(bad == 0L, "slim hash-array table violates its invariants")
  }

  test("SimHash: planted near-dup pairs have small Hamming distance") {
    import spark.implicits._
    val exact = Dedup.jaccardPairs(spark, sf, threshold = 0.8).select($"x", $"y")
      .as[(Long, Long)].collect().toSet
    val sim = Dedup.simhashPairs(spark, sf).select($"x", $"y")
      .as[(Long, Long)].collect().toSet
    // very-high-overlap docs should collide in the Hamming<=3 sketch space
    assert(exact.nonEmpty)
    assert((exact intersect sim).size >= exact.size / 2,
      s"simhash found ${(exact intersect sim).size} of ${exact.size} j>=0.8 pairs")
  }

  test("exact dedup groups every doc exactly once") {
    import spark.implicits._
    val total = Dedup.exact(spark, sf).agg(org.apache.spark.sql.functions.sum($"n_docs"))
      .as[Long].collect()(0)
    assert(total == spark.read.parquet(s"$sf/documents.parquet").count())
  }

  test("ANN-LSH candidates score identically to brute force and keep rank order") {
    import spark.implicits._
    val brute = Similarity.knnBruteForce(spark, sf, k = 500)
      .select($"q_id", $"n_id", $"cos").as[(Long, Long, Double)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    val ann = Similarity.annLsh(spark, sf)
      .select($"q_id", $"n_id", $"cos").as[(Long, Long, Double)].collect()
    assert(ann.nonEmpty, "multi-table LSH should produce candidates")
    ann.foreach { case (q, n, c) =>
      assert(brute((q, n)) == c, s"cosine mismatch for ($q,$n)")
    }
    // per query at most k rows
    val perQuery = ann.groupBy(_._1).view.mapValues(_.length)
    assert(perQuery.values.forall(_ <= 5))
  }

  test("linearProbe separates a linearly-separable fixture and is honest on noise") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    // label 0 clusters at +0.5 on every dim, the rest at -0.5: separable
    val rows = Seq.tabulate(200) { i =>
      val lbl = i % 4 // 25% positives
      val mu = if (lbl == 0) 0.5f else -0.5f
      (i.toLong, lbl,
        Array.fill(8)(mu + (rnd.nextFloat() - 0.5f) * 0.4f))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-probe").toString
    rows.toDF("vec_id", "label", "embedding").write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val got = Similarity.linearProbe(spark, dir)
      .as[(Int, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val (n0, pos0) = got(0)
    assert(pos0 >= n0 - 2, s"positives must be found: $pos0 of $n0")
    (1 to 3).foreach { l =>
      val (nl, posl) = got(l)
      assert(posl <= 2, s"label $l: $posl of $nl false positives")
    }
  }

  test("IVF-PQ: ADC ranks recover most of the trained-IVF top-5; scores stay bounded") {
    import spark.implicits._
    val pq = Similarity.annIvfPq(spark, sf)
      .select($"q_id", $"n_id", $"approx_cos", $"rnk")
      .as[(Long, Long, Double, Int)].collect()
    val ivf = Similarity.annIvfKmeans(spark, sf)
      .select($"q_id", $"n_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(pq.map(_._1).distinct.length == 10, "10 query rows")
    pq.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.length <= 5 && rows.map(_._4).sorted.sameElements(1 to rows.length))
      rows.foreach { case (_, _, ac, _) =>
        assert(ac > -1.01 && ac < 1.01, s"ADC cosine out of range: $ac") }
    }
    // recall@5 of the ADC ranking vs the exact-rescored trained IVF over
    // the SAME probed lists: PQ coarsens only the scoring. These synthetic
    // near-random embeddings are PQ's worst case (no low-rank structure
    // for the codebooks to exploit) — deterministic measured mean is 0.48
    // at m=16/ks=16; the bound leaves margin for param-sweep churn only
    val recalls = pq.groupBy(_._1).map { case (q, rows) =>
      rows.count(r => ivf(q).contains(r._2)).toDouble / ivf(q).size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.4, s"mean ADC recall@5 vs trained IVF = $mean")
  }

  test("IVF-ANN candidates score identically to brute force, recall > 0") {
    import spark.implicits._
    val brute = Similarity.knnBruteForce(spark, sf, k = 500)
      .select($"q_id", $"n_id", $"cos").as[(Long, Long, Double)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    val bruteTop5 = Similarity.knnBruteForce(spark, sf, k = 5)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.annIvf(spark, sf)
      .select($"q_id", $"n_id", $"cos").as[(Long, Long, Double)].collect()
    assert(ivf.nonEmpty)
    ivf.foreach { case (q, n, c) =>
      assert(brute((q, n)) == c, s"cosine mismatch for ($q,$n)")
    }
    val hits = ivf.map(t => (t._1, t._2)).toSet intersect bruteTop5
    assert(hits.nonEmpty, "IVF should recover at least some true top-5 neighbors")
  }

  test("IVF pair generator: full recall of exact near-dups at threshold 0.4") {
    import spark.implicits._
    // the low-cos regime where hyperplane LSH has a recall wall — IVF
    // blocking doesn't (near-dups are L2-close ⇒ same/adjacent Voronoi
    // cells), so it is semanticDedup's default pair generator (VERDICT r2)
    val exact = Similarity.embeddingNearDup(spark, sf)
      .select($"x", $"y", $"cos").as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    val ivf = Similarity.embeddingNearDupIvf(spark, sf)
      .select($"x", $"y", $"cos").as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(exact.nonEmpty, "fixture should contain planted semantic dups")
    // precision 1: every IVF pair is an exact pair with the identical score
    ivf.foreach { case (k, c) =>
      assert(exact.get(k).contains(c), s"IVF pair $k not exact or score drift")
    }
    // CurationOpsSpec's semanticDedup equality demands full recall on this
    // fixture (nProbe=4 of 8 lists closes every Voronoi-boundary split)
    assert(ivf.size == exact.size,
      s"IVF recall ${ivf.size}/${exact.size} — missed ${exact.keySet -- ivf.keySet}")
  }

  test("semanticDedupScaled: identical to the bench form below the dial knee; precision 1 above it") {
    import spark.implicits._
    // below the knee (N/targetCell <= 8) the scaled dial resolves to the
    // SAME nLists=8 trajectory — outputs must be row-identical
    val base = Similarity.semanticDedup(spark, sf)
      .as[(Long, Int)].collect().toSet
    val scaled = Similarity.semanticDedupScaled(spark, sf)
      .as[(Long, Int)].collect().toSet
    assert(scaled == base, "below the knee the dial must be a no-op")
    // above the knee (tiny cells): kept set may grow (fewer candidate
    // pairs found), but every DROPPED vector must still be the y-side of
    // a TRUE near-dup pair — precision 1 by the exact re-check
    val fine = Similarity.semanticDedupScaled(spark, sf, targetCell = 16)
      .as[(Long, Int)].collect().toSet
    val allIds = Similarity.corpusWithNorm(spark, sf)
      .select($"vec_id").as[Long].collect().toSet
    val exactLosers = Similarity.embeddingNearDup(spark, sf)
      .select($"y").as[Long].collect().toSet
    val dropped = allIds -- fine.map(_._1)
    assert(dropped.subsetOf(exactLosers),
      s"scaled dial dropped non-dups: ${dropped -- exactLosers}")
    assert(fine.size >= base.size, "finer cells can only find fewer pairs")
  }

  test("dial knee holds at every gate/bench fixture SF (q253–q255 oracle premise)") {
    // q253/q254/q255 reuse the static forms' DuckDB oracles on the
    // premise that every fixture sits BELOW the dial knee
    // (N ≤ 8·targetCell ⇒ nLists stays 8 ⇒ identical trajectory). The
    // margin is thin at sf0.1 (2000 vs 2048 — 2.4%), so assert it HERE
    // with a message naming the knee: if a fixture regeneration ever
    // grows the corpus past the knee, this fails readably instead of
    // the gate failing with an opaque digest mismatch.
    val targetCell = 256 // the q253–q255 default (Similarity/Retrieval)
    val knee = 8L * targetCell
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1").foreach { dir =>
      val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
      assert(n <= knee,
        s"$dir holds $n embeddings > dial knee $knee (= 8 × targetCell " +
          s"$targetCell): nLists flips past 8 and the q253–q255 static " +
          "oracles (q55/q155/q125 SQL) no longer replay the same " +
          "trajectory — regenerate the oracle or raise targetCell")
    }
  }

  test("hardNegativesScaled: identical to the bench form below the dial knee") {
    import spark.implicits._
    val base = Similarity.hardNegatives(spark, sf)
      .as[(Long, Int, Long, Int, Double, Long)].collect().toSet
    val scaled = Similarity.hardNegativesScaled(spark, sf)
      .as[(Long, Int, Long, Int, Double, Long)].collect().toSet
    assert(base.nonEmpty && scaled == base,
      "below the knee the hard-negative dial must be a no-op")
  }

  test("rolling fingerprint is deterministic and order-sensitive") {
    import spark.implicits._
    val fps = Text.rollingFp(spark, sf).as[(Long, Long)].collect().toMap
    val fps2 = Text.rollingFp(spark, sf).as[(Long, Long)].collect().toMap
    assert(fps == fps2)
    // 500 distinct docs → no mass collisions
    assert(fps.values.toSet.size > 450)
  }

  /** Synthesized corpus at 50× the sf0.001 document count: `n` base docs
    * of 40 random-vocab tokens plus `planted` near-dup twins (a 5-token
    * contiguous mutation ⇒ 3-gram Jaccard ≈ 0.69, comfortably over the
    * 0.5 threshold). Written as a documents.parquet dir so the real
    * operators run unmodified.
    */
  private def synthCorpus(n: Int, planted: Int, seed: Int): String = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    def word() = s"w${rnd.nextInt(5000)}"
    val base = Seq.tabulate(n)(i => (i.toLong, Seq.fill(40)(word())))
    val twins = Seq.tabulate(planted) { j =>
      val (bid, toks) = base(j * (n / planted))
      val mutated = toks.zipWithIndex.map { case (t, p) =>
        if (p >= 10 && p < 15) s"m${seed}x${j}x$p" else t
      }
      ((n + j).toLong, mutated)
    }
    val dir = java.nio.file.Files.createTempDirectory(s"graft-synth-$seed").toString
    (base ++ twins).map { case (id, toks) => (id, toks.mkString(" ")) }
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("scale rehearsal: LSH candidate volume tracks planted-dup density, not corpus size") {
    import spark.implicits._
    val n = 25000 // 50× the sf0.001 documents table
    val d1 = synthCorpus(n, planted = 250, seed = 1) // 1% dup density
    val d2 = synthCorpus(n, planted = 500, seed = 2) // 2% dup density
    val c1 = Dedup.minhashCandidates(spark, d1).count()
    val c2 = Dedup.minhashCandidates(spark, d2).count()
    // candidates ∝ planted pairs — NOT corpus² (which would be 3·10^8):
    // near-complete recall of the planted pairs plus a tiny random
    // band-collision background
    assert(c1 >= 225 && c1 <= 600, s"1% density: $c1 candidates")
    assert(c2 >= 450 && c2 <= 1200, s"2% density: $c2 candidates")
    val ratio = c2.toDouble / c1.toDouble
    assert(ratio > 1.4 && ratio < 3.0, s"candidate growth $ratio should track density 2×")
    // the full LSH pipeline on the rehearsal corpus: every planted twin
    // pair survives the exact re-check at threshold 0.5
    val pairs = Dedup.minhashLsh(spark, d1).select($"x", $"y")
      .as[(Long, Long)].collect().toSet
    val plantedPairs = Seq.tabulate(250) { j =>
      val bid = (j * (n / 250)).toLong
      (math.min(bid, (n + j).toLong), math.max(bid, (n + j).toLong))
    }.toSet
    assert(plantedPairs.subsetOf(pairs),
      s"missing ${(plantedPairs -- pairs).size} planted pairs")
    // clusters through the default (LSH) pair generator: each twin pair
    // collapses into one cluster → exactly n clusters remain
    val clusters = Dedup.dedupClusters(spark, d1).count()
    assert(clusters == n, s"clusters $clusters != $n")
  }

  test("native word_shingles is bit-identical to the HOF reference") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions.tokens
    import graft.functions.Hashing
    val both = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id",
        Hashing.shinglesAll(tokens($"text"), 3).as("nat"),
        Hashing.shinglesAllHof(tokens($"text"), 3).as("hof"),
        Hashing.shingles(tokens($"text"), 3).as("natd"),
        array_distinct(Hashing.shinglesAllHof(tokens($"text"), 3)).as("hofd"))
      .as[(Long, Seq[String], Seq[String], Seq[String], Seq[String])].collect()
    assert(both.length == 500)
    both.foreach { case (id, n, h, nd, hd) =>
      assert(n == h, s"doc $id positional drift")
      assert(nd == hd, s"doc $id distinct drift")
    }
    // degenerate: shorter than n, exactly n, 5-gram width
    val edge = Seq(Seq("a"), Seq("a", "b", "c"), Seq("a", "b", "c", "d", "e", "f"))
      .toDF("ws")
      .select(Hashing.shinglesAll($"ws", 5).as("nat"),
        Hashing.shinglesAllHof($"ws", 5).as("hof"))
      .as[(Seq[String], Seq[String])].collect()
    edge.foreach { case (n, h) => assert(n == h) }
  }

  test("native simhash64 is bit-identical to the HOF reference") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions.cleanTokens
    val both = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id",
        graft.functions.Hashing.simhash(cleanTokens($"text")).as("native"),
        graft.functions.Hashing.simhashHof(cleanTokens($"text")).as("hof"))
      .as[(Long, Long, Long)].collect()
    assert(both.length == 500)
    both.foreach { case (id, n, h) => assert(n == h, s"doc $id sketch drift") }
    // degenerate inputs too: empty array, empty-string token, unicode
    val edge = Seq(Seq.empty[String], Seq(""), Seq("日本語", "a"))
      .toDF("ws")
      .select(graft.functions.Hashing.simhash($"ws").as("native"),
        graft.functions.Hashing.simhashHof($"ws").as("hof"))
      .as[(Long, Long)].collect()
    edge.foreach { case (n, h) => assert(n == h) }
  }

  test("native sketch expressions tolerate null array elements") {
    import spark.implicits._
    import graft.functions.Hashing
    // a null token must be skipped, not NPE — the interpreted forms these
    // expressions replaced were null-tolerant (ADVICE r2)
    val withNulls = Seq(
      (1L, Seq(Some("a"), None, Some("b"), Some("c"), Some("d"))),
      (2L, Seq(None: Option[String], None, None)),
      (3L, Seq(Some("a"), Some("b"), Some("c"), Some("d")))
    ).toDF("id", "ws")
    val dense = Seq(
      (1L, Seq("a", "b", "c", "d")),
      (2L, Seq.empty[String]),
      (3L, Seq("a", "b", "c", "d"))
    ).toDF("id", "ws")
    def run(df: org.apache.spark.sql.DataFrame) = df
      .select($"id",
        Hashing.simhash($"ws").as("sh"),
        Hashing.minhashSignature($"ws", 8).as("mh"),
        Hashing.shinglesAll($"ws", 3).as("sg"))
      .as[(Long, Long, Seq[Long], Seq[String])].collect().sortBy(_._1)
    // nulls dropped == same result as the pre-compacted arrays
    assert(run(withNulls).toSeq == run(dense).toSeq)
  }

  /** Driver-side mirror of Hashing.md5Bits32(concat(salt, id), 1) % 100 —
    * the deterministic bucket the incremental/split operators key on.
    */
  private def md5Bucket(salt: String, id: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$salt$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16) % 100
  }

  test("scale rehearsal: incremental dedup flags exactly the cross-boundary twins") {
    import spark.implicits._
    val n = 25000
    val planted = 500
    val d = synthCorpus(n, planted, seed = 3)
    val out = Dedup.incrementalDedup(spark, d)
      .as[(Long, Boolean, Boolean, Boolean)].collect()
    val incoming = (0L until (n + planted)).filter(md5Bucket("incr:", _) >= 90).toSet
    assert(out.length == incoming.size, "one decision per incoming doc")
    // expected near-dups: a twin-pair member that is incoming while its
    // partner is existing (twins share 35 of 45 distinct-ish tokens →
    // jaccard well over 0.5)
    val pairs = Seq.tabulate(planted)(j => ((j * (n / planted)).toLong, (n + j).toLong))
    val expectNear = pairs.flatMap { case (a, b) =>
      Seq(a).filter(x => incoming(x) && !incoming(b)) ++
        Seq(b).filter(x => incoming(x) && !incoming(a))
    }.toSet
    val gotNear = out.filter(_._3).map(_._1).toSet
    assert(expectNear.subsetOf(gotNear),
      s"missing ${(expectNear -- gotNear).size} cross-boundary twins")
    // random 40-token docs over a 5000-word vocab produce no accidental
    // near-dups and every text is distinct → no exact dups, few extras
    assert(out.count(_._2) == 0, "unexpected exact dups")
    assert(gotNear.size <= expectNear.size + 5, "near-dup false positives")
  }

  test("scale rehearsal: substring coverage isolates the planted shared spans") {
    import spark.implicits._
    val n = 25000
    val planted = 250
    val d = synthCorpus(n, planted, seed = 4)
    val rows = Dedup.substringDupCoverage(spark, d)
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.length == n + planted)
    val twinIds = Seq.tabulate(planted) { j =>
      Seq((j * (n / planted)).toLong, (n + j).toLong) }.flatten.toSet
    // twins share tokens 1..10 and 16..40 (1-based): every 10-gram inside
    // those runs is cross-doc duplicated → covered = 10 + 25 = 35 of 40
    rows.filter(r => twinIds(r._1)).foreach { case (id, ntk, cov, _) =>
      assert(ntk == 40L, s"doc $id")
      assert(cov >= 35L, s"doc $id covered $cov < 35")
    }
    // the random background has essentially no repeated 10-grams
    val background = rows.filterNot(r => twinIds(r._1))
    assert(background.count(_._3 > 0) <= 5,
      "random background should have ~no duplicated 10-gram spans")
  }

  test("property: maxDupRuns equals a brute-force aligned-match oracle on random corpora") {
    import spark.implicits._
    // tiny vocabulary forces organic >= 10-token cross-doc matches
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed)
      val docs: Seq[(Long, Vector[String])] = Seq.tabulate(8) { i =>
        val len = 25 + rnd.nextInt(16)
        (i.toLong, Vector.fill(len)(if (rnd.nextBoolean()) "a" else "b"))
      }
      val n = 10
      // brute force: for every ordered doc pair and diagonal, walk the
      // maximal aligned equal-token segments; segments >= n set the max
      // and cover their exact span (operator semantics by construction)
      val expect = docs.map { case (id, ws) =>
        var mx = 0L
        val covered = scala.collection.mutable.Set.empty[Int]
        for ((oid, ows) <- docs if oid != id) {
          for (diag <- -(ows.length - 1) until ws.length) {
            var p = math.max(0, diag)
            while (p < ws.length && (p - diag) < ows.length) {
              if (ws(p) == ows(p - diag)) {
                val start = p
                while (p < ws.length && (p - diag) < ows.length &&
                  ws(p) == ows(p - diag)) p += 1
                val len = p - start
                if (len >= n) {
                  mx = math.max(mx, len.toLong)
                  (start until p).foreach(covered += _)
                }
              } else p += 1
            }
          }
        }
        id -> (ws.length.toLong, mx, covered.size.toLong)
      }.toMap
      val dir = java.nio.file.Files.createTempDirectory(s"graft-mdrp$seed").toString
      docs.map { case (id, ws) => (id, ws.mkString(" ")) }
        .toDF("doc_id", "text").write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      val got = Dedup.maxDupRuns(spark, dir)
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      assert(got == expect, s"seed $seed:\n got    $got\n expect $expect")
    }
  }

  test("maxDupRuns: exact maximal run lengths on a constructed overlap fixture") {
    import spark.implicits._
    // doc 0 owns a0..a29; doc 1 embeds exactly a5..a24 (20 tokens); doc 3
    // embeds exactly a10..a20 (11 tokens); doc 2 is all-unique background.
    // Suffix-array semantics: max run = longest verbatim cross-doc
    // substring, coverage = union over partners (doc 3's span nests
    // inside doc 1's copy within doc 0).
    val a = (0 until 30).map(i => s"a$i")
    val docs = Seq(
      (0L, a.mkString(" ")),
      (1L, (Seq("b0", "b1", "b2") ++ a.slice(5, 25) ++ Seq("c0", "c1")).mkString(" ")),
      (2L, (0 until 25).map(i => s"z$i").mkString(" ")),
      (3L, (Seq("d0", "d1") ++ a.slice(10, 21)).mkString(" ")))
    val dir = java.nio.file.Files.createTempDirectory("graft-mdr").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = Dedup.maxDupRuns(spark, dir)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got(0L) == ((30L, 20L, 20L)), s"doc0 ${got(0L)}")
    assert(got(1L) == ((25L, 20L, 20L)), s"doc1 ${got(1L)}")
    assert(got(2L) == ((25L, 0L, 0L)), s"doc2 ${got(2L)}")
    assert(got(3L) == ((13L, 11L, 11L)), s"doc3 ${got(3L)}")
  }

  test("maxDupRuns: maxSeedDf ceiling drops boilerplate-gram seeds only") {
    import spark.implicits._
    // run R appears verbatim in 3 docs (its 10-grams have df=3 —
    // "boilerplate"); run S appears in exactly 2 (df=2). A ceiling of 2
    // must erase R-anchored runs while keeping S-anchored ones intact.
    val R = (0 until 15).map(i => s"r$i")
    val S = (0 until 15).map(i => s"s$i")
    val docs = Seq(
      (0L, (R ++ Seq("u0", "u1") ++ S).mkString(" ")),
      (1L, (Seq("v0", "v1") ++ R ++ Seq("v2") ++ S).mkString(" ")),
      (2L, (Seq("w0") ++ R ++ Seq("w1")).mkString(" ")))
    val dir = java.nio.file.Files.createTempDirectory("graft-mdf").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    def runsOf(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> (r._3, r._4)).toMap
    val all = runsOf(Dedup.maxDupRuns(spark, dir))
    assert(all(0L) == ((15L, 30L)), s"default doc0 ${all(0L)}")
    assert(all(2L) == ((15L, 15L)), s"default doc2 ${all(2L)}")
    val capped = runsOf(Dedup.maxDupRuns(spark, dir, maxSeedDf = Some(2L)))
    assert(capped(0L) == ((15L, 15L)), s"capped doc0 ${capped(0L)}")
    assert(capped(1L) == ((15L, 15L)), s"capped doc1 ${capped(1L)}")
    assert(capped(2L) == ((0L, 0L)), s"capped doc2 ${capped(2L)}")
  }

  test("scale rehearsal: maxDupRuns matches q68 coverage and pins twin run lengths") {
    import spark.implicits._
    val n = 25000
    val planted = 250
    val d = synthCorpus(n, planted, seed = 6)
    val rows = Dedup.maxDupRuns(spark, d).as[(Long, Long, Long, Long)].collect()
    assert(rows.length == n + planted)
    val twinIds = Seq.tabulate(planted) { j =>
      Seq((j * (n / planted)).toLong, (n + j).toLong) }.flatten.toSet
    // twins share runs 1..10 and 16..40 (1-based) → max run 25, cover 35;
    // coincidental background 10-grams can only ever extend these
    val twinRows = rows.filter(r => twinIds(r._1))
    twinRows.foreach { case (id, ntk, mx, cov) =>
      assert(ntk == 40L && mx >= 25L && cov >= 35L, s"doc $id ($mx, $cov)")
    }
    assert(twinRows.count(r => r._3 == 25L && r._4 == 35L) >= twinRows.length - 10,
      "almost all twins should see exactly the planted (25, 35)")
    // the suffix rung's coverage is definitionally q68's interval union
    val cv = Dedup.maxDupRuns(spark, d).select($"doc_id", $"covered_tokens")
    val q68 = Dedup.substringDupCoverage(spark, d)
      .select($"doc_id", $"covered_tokens".cast("long").as("covered_tokens"))
    assert(cv.exceptAll(q68).isEmpty && q68.exceptAll(cv).isEmpty,
      "coverage must agree with the positional-gram rung")
  }

  test("converged propagation merges deep chains the fixed-count loop cannot") {
    import spark.implicits._
    import org.apache.spark.sql.{DataFrame, SparkSession}
    // a 21-node near-dup CHAIN (A≈B≈C≈…): min-label propagation moves the
    // minimum one hop per superstep, so the q32 fixed-5 contract leaves
    // the far end unmerged — the convergence stop must not
    val base = 1000000L
    val chain = (0 until 20).map(i => (base + i, base + i + 1)).toDF("x", "y")
    val gen = (_: SparkSession, _: String, _: Double) => chain
    val fixed = Dedup.dedupLabels(spark, sf, pairGen = gen)
      .filter($"doc_id" >= base).as[(Long, Long)].collect().toMap
    val conv = Dedup.dedupLabelsConverged(spark, sf, pairGen = gen)
      .filter($"doc_id" >= base).as[(Long, Long)].collect().toMap
    assert(conv.keySet == fixed.keySet && conv.size == 21)
    assert(conv.values.toSet == Set(base), s"one true component: $conv")
    assert(fixed.values.toSet.size > 1,
      "fixed-5 must under-merge the 21-chain (else this test is vacuous)")
    // on the real corpus (shallow planted dups) the two agree exactly —
    // the q86 oracle contract
    val a = Dedup.dedupClusters(spark, sf)
      .as[(Long, Long)].collect().toMap
    val b = Dedup.dedupClustersConverged(spark, sf)
      .as[(Long, Long)].collect().toMap
    assert(a == b, "converged == 5-step on shallow components")
  }

  test("evalContamination: one eval side per edge, bounded rates, LSH == exact") {
    import spark.implicits._
    val evOf = (id: Long) => {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(("eval:" + id).getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % 100 < 5
    }
    val rows = Dedup.evalContamination(spark, sf)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (src, nTrain, nPairs, nFlag, nEval, rate) =>
      assert(nFlag <= nTrain, s"$src flagged bounded by population")
      assert(nFlag <= nPairs && nEval <= nPairs, s"$src distincts bounded by pairs")
      assert(rate == nFlag * 1000000L / nTrain, s"$src rate law")
    }
    // the pair split law, re-derived from the shared generator directly:
    // every contamination edge has EXACTLY one eval side
    val pairs = Dedup.minhashLsh(spark, sf).select($"x", $"y")
      .as[(Long, Long)].collect()
    val mixed = pairs.count { case (x, y) => evOf(x) != evOf(y) }
    assert(rows.map(_._3).sum == mixed.toLong,
      "reported pairs == generator pairs with exactly one eval side")
    // ladder law: the exact generator yields the identical report
    val exact = Dedup.evalContamination(spark, sf,
        pairGen = (s, dd, t) => Dedup.jaccardPairs(s, dd, t))
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(exact == rows.toSet, "LSH default == exact-Jaccard rung")
  }

  test("decontaminatedManifest agrees with the q183 audit and conserves mass") {
    import spark.implicits._
    val audit = Dedup.evalContamination(spark, sf)
      .select($"source", $"n_train_docs", $"n_train_flagged")
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val man = Dedup.decontaminatedManifest(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(man.nonEmpty && man.map(_._1).toSet == audit.keySet)
    man.foreach { case (src, nDocs, nToks, nRem, tokRem, nKept, tokKept, q6) =>
      val (auditDocs, auditFlagged) = audit(src)
      assert(nDocs == auditDocs, s"$src train population == audit population")
      assert(nRem == auditFlagged, s"$src removed == audit flagged")
      assert(nKept == nDocs - nRem && tokKept == nToks - tokRem, s"$src conservation")
      assert(q6 == tokRem * 1000000L / nToks, s"$src removed share law")
    }
  }

  test("star labels == converged labels (min-id fixpoint), incl. deep chains") {
    import spark.implicits._
    import org.apache.spark.sql.SparkSession
    // the deep-chain generator again: star must reach the same single
    // min-id component in O(log n) rounds
    val base = 2000000L
    val chain = (0 until 20).map(i => (base + i, base + i + 1)).toDF("x", "y")
    val gen = (_: SparkSession, _: String, _: Double) => chain
    val rounds = new java.util.concurrent.atomic.AtomicInteger(-1)
    val starChain = graft.operators.Graph
      .connectedComponentsStar(chain, roundsOut = rounds)
      .as[(Long, Long)].collect().toMap
    assert(starChain.size == 21 && starChain.values.toSet == Set(base),
      s"star must merge the 21-chain to its min id: $starChain")
    // the O(log n) round pin: the 21-deep chain must close in far fewer
    // rounds than its diameter (the propagation loop needs ~20 supersteps)
    assert(rounds.get >= 1 && rounds.get <= 7,
      s"expected O(log n) star rounds on the 21-chain, got ${rounds.get}")
    val star = Dedup.dedupLabelsStar(spark, sf, pairGen = gen)
      .filter($"doc_id" >= base).as[(Long, Long)].collect().toMap
    assert(star.size == 21 && star.values.toSet == Set(base),
      s"star must merge the 21-chain to its min id: $star")
    // on the real corpus the full label tables agree — the q132 contract
    // (the split is a pure function of the label)
    val s = Dedup.dedupLabelsStar(spark, sf)
      .as[(Long, Long)].collect().toMap
    val c = Dedup.dedupLabelsConverged(spark, sf)
      .as[(Long, Long)].collect().toMap
    assert(s == c, "star and converged label tables must be identical")
    // and the split rungs agree row-for-row
    val sp = graft.operators.Sampling.clusterSafeSplit(spark, sf)
    val spc = graft.operators.Sampling.clusterSafeSplitConverged(spark, sf)
    assert(sp.exceptAll(spc).isEmpty && spc.exceptAll(sp).isEmpty,
      "clusterSafeSplit star default must equal the converged rung")
  }

  test("scale rehearsal: PassJoin has no prefix hub on an all-shared-prefix corpus") {
    import spark.implicits._
    // EVERY title shares its first 25 characters - under the retired
    // 4-char-prefix blocking this corpus is ONE quadratic bucket
    // (n^2/2 = 2M DP pairs); PassJoin keys on segment content, where the
    // distinct random tails keep candidates proportional to planted pairs
    val n = 2000
    val rnd = new scala.util.Random(11)
    val base = "the quick brown fox news "   // 25 chars, maximally common
    def tail() = Seq.fill(15)(('a' + rnd.nextInt(26)).toChar).mkString
    val docs = Seq.tabulate(n)(i => (i.toLong, base + tail()))
    // planted: 30 substitution twins (lev 1) + 20 deletion twins (lev 2,
    // length differs by 2 - exercises the cross-length signature path)
    val subs = Seq.tabulate(30) { j =>
      val (bid, t) = docs(j * 60)
      ((n + j).toLong, t.updated(30, if (t(30) == 'q') 'z' else 'q'), bid)
    }
    val dels = Seq.tabulate(20) { j =>
      val (bid, t) = docs(j * 60 + 17)
      ((n + 30 + j).toLong, t.take(33) ++ t.drop(35), bid)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-passjoin").toString
    (docs ++ subs.map(s => (s._1, s._2)) ++ dels.map(s => (s._1, s._2)))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.editDistanceNearDup(spark, dir)
      .as[(Long, Long, Long)].collect()
    val expected = (subs.map(s => (s._3, s._1, 1L)) ++
      dels.map(s => (s._3, s._1, 2L))).toSet
    assert(got.toSet == expected,
      s"planted-pair mismatch: got ${got.length}, expected ${expected.size}")
  }

  test("simhashBitBias: per-bit replay off the sketch table; balance on the fixture") {
    import spark.implicits._
    val sks = Dedup.simhashSketch(spark, sf)
      .select($"sk").as[Long].collect()
    val got = Dedup.simhashBitBias(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet == (0L to 63L).toSet)
    (0 to 63).foreach { b =>
      val ones = sks.count(s => ((s >> b) & 1L) == 1L).toLong
      val (_, n, gOnes, frac, bias) = got(b.toLong)
      assert(n == sks.length.toLong && gOnes == ones, s"bit $b count")
      assert(frac == math.round(ones.toDouble / n * 1e6), s"bit $b frac")
      assert(bias == math.round((ones * 2 - n).abs.toDouble / n * 1e6), s"bit $b bias")
    }
    // the fixture's ~30-word vocabulary genuinely STICKS some sketch
    // bits (few tokens → a bit's vote is dominated by one hash) — the
    // panel must expose that spread rather than flatten it: some bits
    // near balance, some far, i.e. the audit discriminates
    val biases = got.values.map(_._5)
    assert(biases.min < 300000L, "some bits near balance")
    assert(biases.max > biases.min + 100000L, "audit discriminates across bits")
  }

  test("canonicalLengthBias: per-bucket ratio replay off the star labels") {
    import spark.implicits._
    val labels = Dedup.dedupLabelsStar(spark, sf)
      .as[(Long, Long)].collect().toMap
    val lens = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect().toMap
    val clusters = labels.groupBy(_._2).values.map(_.keys.toSeq)
      .filter(_.size >= 2)
    assert(clusters.nonEmpty, "fixture has multi-doc clusters")
    val expected = clusters.map { ids =>
      val sz = ids.size.toLong
      val canonLen = lens(ids.min)
      val sumLen = ids.map(lens).sum
      val bucket = if (sz == 2) 1L else if (sz <= 4) 2L
        else if (sz <= 8) 3L else 4L
      val rq = BigDecimal(canonLen.toDouble * sz / sumLen * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      (bucket, rq, canonLen * sz < sumLen)
    }.toSeq.groupBy(_._1).map { case (b, rs) =>
      (b, rs.size.toLong,
        math.round(rs.map(_._2).sum.toDouble / rs.size),
        rs.count(_._3).toLong)
    }.toSet
    val got = Dedup.canonicalLengthBias(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == expected, "canonical bias replay")
  }

  test("dedupSurvivorship: absorption matrix replay and conservation") {
    import spark.implicits._
    val labels = Dedup.dedupLabelsStar(spark, sf)
      .as[(Long, Long)].collect().toMap
    val meta = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"source", $"n_chars")
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val clusters = labels.groupBy(_._2).values.map(_.keys.toSeq)
      .filter(_.size >= 2).toSeq
    val expected = clusters.flatMap { ids =>
      val canonSrc = meta(ids.min)._1
      ids.filter(_ != ids.min).map { m =>
        (canonSrc, meta(m)._1, meta(m)._2)
      }
    }.groupBy(t => (t._1, t._2)).map { case ((c, m), rs) =>
      (c, m, rs.size.toLong, rs.map(_._3).sum)
    }.toSet
    val got = Dedup.dedupSurvivorship(spark, sf)
      .as[(String, String, Long, Long)].collect().toSet
    assert(got == expected, "survivorship matrix replay")
    // conservation: every non-canonical member of a multi-doc cluster is
    // absorbed exactly once
    val absorbed = clusters.map(_.size - 1).sum.toLong
    assert(got.toSeq.map(_._3).sum == absorbed, "absorption conservation")
  }

  test("lloydCentroids seeds by rank: non-zero-based id schemes still train") {
    import spark.implicits._
    // every vec_id exceeds k — the old absolute `vec_id < k` seed rule
    // silently trained ZERO centroids here (the r13 ADVICE hazard);
    // rank-seeding must pick the 4 lowest ids and train normally
    val rnd = new scala.util.Random(41)
    val rows = Seq.tabulate(40) { i =>
      (1000L + i, Array.fill(8)(rnd.nextFloat() * 2f - 1f))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-seedrank").toString
    rows.toDF("vec_id", "embedding").write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val cents = Similarity.lloydCentroids(spark, dir, 4, 1)
    assert(cents.length == 4, s"rank-seeded k-means must train k centroids, got ${cents.length}")
    assert(cents.map(_._1).sorted.sameElements(Array(1000L, 1001L, 1002L, 1003L)),
      "seed cids are the k LOWEST vec_ids")
    assert(cents.forall(_._2.length == 8), "centroids keep the corpus dims")
  }
}
