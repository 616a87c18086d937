package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.Profile

/** The measured-at-scale evidence the plan audits argue from (round-14
  * verdict item 1): generate a throwaway ~`factor`× fixture from sf0.1,
  * run the top-10 heavies at BOTH scales, and report per query
  *
  *   - wall-clock slope t(N×)/t(1×) — the 100 TB readiness law is
  *     slope ≲ 1.3 × data slope,
  *   - max-task shuffle-read bytes at both scales — with shuffle
  *     partitions scaled ∝ data (the operational rule on a real
  *     cluster), a scalable plan keeps PER-TASK pressure flat and
  *     absorbs growth in MORE tasks, not bigger ones.
  *
  * Fixture construction (generate → measure → delete; never committed):
  * every fact table is `factor` key-shifted copies of the sf0.1 base.
  * Two distribution-preserving perturbations keep the scaled corpus
  * honest instead of degenerate:
  *
  *   - documents: copy k > 0 prefixes every whitespace token with a
  *     per-copy LETTER tag (cleanTokens keeps alphabetic tokens), so
  *     copies share NO shingles — per-copy token statistics (df, Zipf
  *     shape, doc lengths) are identical to the base, the corpus-level
  *     near-dup RATE stays the base rate, and the dedup family scales
  *     by corpus size rather than by an artificial cross-copy clique
  *     blowup (10 identical copies of every doc would square the pair
  *     tables — a fixture artifact, not an engine property).
  *   - embeddings: copy k > 0 ROTATES the coordinates by k positions,
  *     so every within-copy norm and pairwise similarity is preserved
  *     exactly while cross-copy similarity decorrelates (the earlier
  *     per-copy offset left copies mutually near-identical — see the
  *     build comment below).
  *
  * nation/region stay UNREPLICATED: they are fixed-cardinality
  * dimensions (q13's graph is the 25-nation trade graph whose EDGE
  * WEIGHTS aggregate from the scaled lineitem — exactly the 100 TB
  * shape: fact volume grows, dimension graph does not).
  *
  * Usage: `sbt "runMain graft.tools.ScaleSweep [src] [factor] [--keep]"`.
  * Exit code = number of queries whose slope exceeds its law —
  * 1.3 × factor generally, 2.0 × factor for the declaredLinear
  * entries whose work is ∝ N by design (see that set's doc).
  */
object ScaleSweep {

  private val keyCols = Map(
    "customer"   -> Seq("c_custkey"),
    "supplier"   -> Seq("s_suppkey"),
    "part"       -> Seq("p_partkey"),
    "orders"     -> Seq("o_orderkey", "o_custkey"),
    "lineitem"   -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events"     -> Seq("event_id", "user_id"),
    "documents"  -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private[tools] val heavies = Seq(
    "q109_prefix_jaccard", "q91_ann_ivf_pq", "q13_pagerank",
    "q161_committee", "q174_session_stats", "q32_dedup_clusters",
    "q86_cc_converged", "q116_bm25", "q53_stratified_sample",
    "q57_seq_packing")

  /** Declared-quadratic oracle rungs (COVERAGE.md's "do not
    * re-litigate" list) — exact-truth definitions whose cost is pair
    * count by construction; the deployment paths they calibrate (IVF
    * probes, banded LSH) are in the sweep. `--all` skips them so the
    * law reads engine scaling, not a definition's.
    */
  private val declaredQuadratic = Set(
    "q25_embed_neardup", "q210_knn_purity", "q215_dup_agreement",
    "q229_twonn_dim",
    // the oracle-static IVF form: nLists is pinned at 8 because the
    // DuckDB oracle replays a fixed training trajectory, so candidate
    // volume is N²/8 by declaration (measured 69–107× at 10×). Its
    // deployment twin q253_semantic_dedup_scaled IS in the sweep, so
    // skipping the static rung no longer hides anything — the r14
    // convention's condition ("the deployment paths they calibrate are
    // in the sweep") now holds for it.
    "q55_semantic_dedup")

  /** Declared-LINEAR catalog entries: per-row work ∝ N by design
    * (constant mean Voronoi cell ⇒ candidates ∝ N·targetCell), so the
    * honest slope approximates the DATA slope — and in `--all` mode
    * the 1× base rides fully-warm shared memos (every session constant
    * amortized away by the 250 queries before it), which removes the
    * sub-linearity the 1.3× law budgets for (measured: 7.61× with the
    * named-mode colder base vs 13.11× in-catalog). The law for these
    * is 2 × data slope: generous enough for a warm base + linear work,
    * still a fraction of what any real quadratic reads (the q55 static
    * form measured 69–107×).
    */
  private val declaredLinear = Set("q253_semantic_dedup_scaled",
    // q254/q255 share q253's two properties exactly: work ∝ N by design
    // (the dense arm probes a constant corpus share of a targetCell-held
    // index; RRF fusion is rank arithmetic over linear candidate sets)
    // AND the fully-warm in-catalog 1× base in --all mode — the same
    // amortization that moved q253 from 7.61× (cold named-mode base) to
    // 13.11× (warm). Their measured in-catalog slopes (1.45×/1.46× at
    // 10×) leave the 2× law far from binding; listing them here guards
    // the warm-base artifact, not any real super-linearity. Round 17:
    // their law is additionally scaled by the annTables amplification
    // ratio between the legs (the deliberate (d+1)²-tables spend that
    // holds the QualitySweep recall floor — see main()).
    "q254_hard_negatives_scaled", "q255_rrf_fusion_scaled")

  private[tools] val STRIDE = 100000000L // key offset per copy, beyond any base key

  private def session(cpus: Int, shufflePartitions: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Reuse the shared kept fixture at /tmp/graft_scale<factor> if and
    * only if its marker records the SAME (src, factor); otherwise
    * (re)build. The marker closes two silent-staleness holes: a
    * fixture left by a run against a DIFFERENT source sf dir, and a
    * partially-built fixture (killed mid-build — the marker is written
    * LAST, so its presence certifies completeness).
    */
  def ensureFixture(spark: SparkSession, src: String, out: String,
      factor: Int): Unit = {
    val marker = new java.io.File(s"$out/_fixture_marker.txt")
    // enc bumps whenever the perturbation scheme changes byte-visibly
    // (enc=2: prefix-free multi-letter tags + mod-dims rotation), so a
    // kept fixture built under an older scheme rebuilds instead of
    // silently feeding stale bytes to a digest law
    val want = s"src=$src factor=$factor enc=2"
    val have =
      if (!marker.exists()) None
      else Some(new String(java.nio.file.Files.readAllBytes(marker.toPath),
        java.nio.charset.StandardCharsets.UTF_8).trim)
    if (!have.contains(want)) {
      have.foreach(h => println(s"fixture at $out is [$h], want [$want] — rebuilding"))
      val t0 = System.nanoTime()
      buildFixture(spark, src, out, factor)
      java.nio.file.Files.write(marker.toPath,
        (want + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(f"fixture build: ${(System.nanoTime() - t0) / 1e9}%.1fs → $out")
    }
  }

  def buildFixture(spark: SparkSession, src: String, out: String,
      factor: Int): Unit = {
    import graft.core.Tables
    // dims read BEFORE any table is written (a failed require must not
    // leave a partial fixture behind), from the first non-null
    // embedding (a null-first shard would NPE a bare head read)
    val dims: Int = Tables.table(spark, src, "embeddings")
      .select(size(col("embedding")).as("d")).filter(col("d").isNotNull)
      .take(1).headOption.map(_.getInt(0))
      .getOrElse(sys.error(
        s"$src/embeddings.parquet has no non-null embedding — cannot " +
          "size the rotation scheme for the scaled fixture"))
    // one full rotation cycle + one negated cycle = 2·dims distinct
    // decorrelated copies; past that a pair of copies would repeat a
    // transform and plant cross-copy dup cliques (fixture artifact)
    require(factor <= 2 * dims,
      s"factor $factor exceeds the embedding decorrelation budget " +
        s"(2×dims = ${2 * dims}) — extend the scheme before sweeping this far")
    Seq("region", "nation").foreach { t =>
      Tables.table(spark, src, t).write.mode("overwrite")
        .parquet(s"$out/$t.parquet")
    }
    keyCols.foreach { case (t, keys) =>
      val base = Tables.table(spark, src, t)
      val copies = (0 until factor).map { k =>
        var df = base
        keys.foreach(c => df = df.withColumn(c, col(c) + lit(k * STRIDE)))
        if (t == "documents" && k > 0) {
          // all-letter per-copy tag (cleanTokens keeps alphabetic
          // tokens): k ≤ 25 keeps the original single-letter form so
          // committed 10×/30× digests stay valid; larger k gets
          // "xa" + 2-digit base-26 — copies 26+ previously tagged with
          // NON-letters ('{', '|', …) that cleanTokens dropped
          // wholesale, which would have voided the text family's 100×
          // leg. The tag set must be PREFIX-FREE across families or
          // copies share tokens (tag1+word1 == tag2+word2 — e.g. a
          // bare base-26 "xba" colliding with "xb"+"a…"): single-letter
          // tags occupy "xb".."xz" (k ≥ 1), multi-letter tags all start
          // "xa" and share one length, so no tag extends another.
          val p =
            if (k <= 25) "x" + ('a' + k).toChar
            else {
              require(k < 26 * 26, s"copy tag space exhausted at k=$k")
              "xa" + ('a' + k / 26).toChar + ('a' + k % 26).toChar
            }
          df = df.withColumn("text", concat_ws(" ",
            transform(split(col("text"), " "), w => concat(lit(p), w))))
        }
        if (t == "embeddings" && k > 0) {
          // rotate coordinates by k (mod dims): preserves every
          // within-copy norm and pairwise similarity EXACTLY (so
          // cluster structure and ANN cost are honest), while
          // cross-copy similarity decorrelates — a plain per-copy
          // offset left copies mutually near-identical, which planted
          // a 10-clique of near-dups on every base vector and turned
          // the dedup family's 10× leg into a dup-density stress test
          // rather than corpus growth (q55 adjudication). The second
          // rotation cycle (k ≥ dims) NEGATES every component: norms
          // and within-copy similarities still exact, and cos(a, −a)
          // = −1 anti-correlates the copy against its same-rotation
          // partner from the first cycle.
          val rk = k % dims
          if (rk > 0)
            df = df.withColumn("embedding", concat(
              expr(s"slice(embedding, ${rk + 1}, size(embedding) - $rk)"),
              expr(s"slice(embedding, 1, $rk)")))
          if (k / dims == 1)
            df = df.withColumn("embedding",
              transform(col("embedding"), x => -x))
        }
        df
      }
      copies.reduce(_ unionByName _).write.mode("overwrite")
        .parquet(s"$out/$t.parquet")
    }
  }

  /** One scale leg in its own session: warm the declared builds first
    * (the bench convention — queries measure themselves, not a shared
    * memo fill), then time each query and its max-task shuffle read.
    */
  private def runLeg(dir: String, cpus: Int, shufflePartitions: Int,
      queries: Seq[String], twice: Boolean)
      : (Double, Seq[(String, Double, Double, Long)]) = {
    val spark = session(cpus, shufflePartitions)
    try graft.SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    val warmed = graft.Builds.warm(spark, dir)
    warmed.failures.foreach { case (name, e) =>
      println(s"BUILD FAIL $dir $name: ${e.getMessage}") }
    val buildSecs = warmed.secs.map(_._2).sum
    // each heavy runs TWICE and BOTH times are reported: the first run
    // carries one-off effects (codegen, cache spill-refill under the 21
    // builds' storage pressure), the second can be a RESULT-memo hit for
    // memoized queries (then it measures the memo, not the plan) — the
    // honest slope reads the first-run column unless the second is in
    // the same ballpark, in which case the min is the plan's cost
    val rows = queries.map { name =>
      val legs = (1 to (if (twice) 2 else 1)).map { _ =>
        val (secs, work) = Profile.span(spark) {
          val t0 = System.nanoTime()
          try graft.SparkEntry.queries(name)(spark, dir).count()
          catch { case e: Throwable => println(s"QUERY FAIL $name: ${e.getMessage}") }
          (System.nanoTime() - t0) / 1e9
        }
        (secs, work.stages.map(_.maxTaskShuffleRead).maxOption.getOrElse(0L))
      }
      (name, legs(0)._1, legs.last._1, legs(0)._2)
    }
    spark.stop()
    (buildSecs, rows)
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val keep = args.contains("--keep")
    val out = s"/tmp/graft_scale$factor"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // the recall-amplification ratio between the legs: the ANN family
    // (q253/q254/q255) deliberately spends annTables(Nx)/annTables(1x)
    // MORE work at the larger scale to hold its QualitySweep recall
    // floor (N·(d+1)² — see Similarity.annTables), so its slope law is
    // scaled by this ratio. Computed from the actual corpus counts.
    var ampRatio = 1.0
    locally {
      val s = session(cpus, cpus)
      ensureFixture(s, src, out, factor)
      val n1 = graft.core.Tables.embeddings(s, src).count()
      def tabs(n: Long) = graft.operators.Similarity.annTables(
        s, math.max(8L, n / 256L).toInt)
      ampRatio = tabs(n1 * factor).toDouble / tabs(n1)
      if (ampRatio != 1.0)
        println(f"ann amplification ratio between legs: $ampRatio%.1fx " +
          "(the q253/q254/q255 law is scaled by it — recall-floor spend, " +
          "not engine drift)")
      s.stop()
    }
    // --fixture-only: build (and keep) the fixture for ad-hoc profiling
    if (args.contains("--fixture-only")) return
    // --all: sweep the ENTIRE query catalog (single run per query,
    // declared-quadratic rungs skipped) — the long-tail safety net the
    // top-10 table can't give; explicit query names (after <src>
    // <factor>) sweep just those, twice each; default is the top-10
    val allMode = args.contains("--all")
    val named = args.drop(2).filterNot(_.startsWith("--"))
    val queries =
      if (named.nonEmpty) named.toSeq
      else if (allMode) graft.SparkEntry.queries.keys.toSeq.sorted
        .filterNot(declaredQuadratic)
      else heavies
    // shuffle partitions scale with the data (the cluster operating
    // rule); parallelism (cores) is the machine's and stays fixed
    val (b1, leg1) = runLeg(src, cpus, cpus, queries, twice = !allMode)
    val (bN, legN) = runLeg(out, cpus, cpus * factor, queries, twice = !allMode)
    println(f"builds_total: ${b1}%.1fs → ${bN}%.1fs  slope ${bN / b1}%.2fx " +
      f"(data slope $factor×, law ≤ ${1.3 * factor}%.0fx)")
    println("| query | t_1x run1/run2 | t_Nx run1/run2 | slope(run1) | law | maxTaskShufRead_1x | _Nx | ratio |")
    println("|---|---|---|---|---|---|---|---|")
    var violations = 0
    // in --all mode sub-0.3s base queries are below the law's noise
    // floor (a 0.1 → 1.4 s move is plan constants, not scaling)
    val floor = if (allMode) 0.3 else 0.0
    leg1.zip(legN).foreach { case ((n, t1a, t1b, m1), (_, tNa, tNb, mN)) =>
      val slope = tNa / t1a
      // the ANN family's law carries the amplification ratio: its
      // measured slope includes the DELIBERATE (d+1)²-tables spend
      // that holds the recall floor (QualitySweep's law), so the
      // engine-scaling law is 2 × data slope × that ratio
      val law = if (declaredLinear(n)) 2.0 * ampRatio else 1.3
      val ok = slope <= law * factor || t1a < floor
      if (!ok) violations += 1
      val mRatio = if (m1 > 0) f"${mN.toDouble / m1}%.2fx" else "-"
      println(f"| $n | $t1a%.2f/$t1b%.2f | $tNa%.2f/$tNb%.2f | $slope%.2fx " +
        f"| ${if (ok) "PASS" else "FAIL"} | ${m1 / 1024}%dKiB | ${mN / 1024}%dKiB | $mRatio |")
    }
    if (!keep) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(new java.io.File(out))
      println(s"fixture deleted: $out")
    }
    if (violations > 0) sys.exit(violations)
  }
}
