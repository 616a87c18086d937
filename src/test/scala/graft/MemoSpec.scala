package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Memo

/** Session isolation, build-once and eviction contract of the shared-lineage memo. */
class MemoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("same session + key returns the same DataFrame object") {
    val a = Memo(spark, cache = false, "memospec", "same")(spark.range(3).toDF)
    val b = Memo(spark, cache = false, "memospec", "same")(spark.range(99).toDF)
    assert(a eq b, "second touch must hit the memo, not rebuild")
  }

  test("sessions sharing a context never exchange entries") {
    val other = spark.newSession()
    try {
      val a = Memo(spark, cache = false, "memospec", "iso")(spark.range(1).toDF)
      val b = Memo(other, cache = false, "memospec", "iso")(other.range(2).toDF)
      assert(!(a eq b), "distinct sessions must get distinct entries")
      assert(a.sparkSession eq spark)
      assert(b.sparkSession eq other)
    } finally Memo.release(other)
  }

  /** Four threads touch one key at once. A build counts itself, then
    * waits until all four have called the memo and the other touchers
    * are parked (each wait gives up after 2 s), then returns `result`
    * of its count. Returns the build count and each thread's outcome.
    */
  private def touchAtOnce(s: SparkSession, key: String)(
      result: Int => DataFrame): (Int, Seq[Try[DataFrame]]) = {
    val builds = new AtomicInteger
    val called = new CountDownLatch(4)
    val out = new Array[Try[DataFrame]](4)
    lazy val threads: Seq[Thread] = (0 until 4).map(i => new Thread(() => {
      called.countDown()
      out(i) = Try(Memo(s, cache = false, "memospec", key) {
        val n = builds.incrementAndGet()
        called.await(2, TimeUnit.SECONDS)
        val until = System.nanoTime() + 2000000000L
        while (threads.exists(t => (t ne Thread.currentThread) &&
            t.getState != Thread.State.WAITING) && System.nanoTime() < until)
          Thread.sleep(5)
        result(n)
      })
    }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    (builds.get, out.toSeq)
  }

  test("concurrent first touch of one key builds once") {
    val s = spark.newSession()
    try {
      val (builds, got) = touchAtOnce(s, "race")(_ => s.range(1).toDF())
      assert(builds == 1, s"expected one build, got $builds")
      val dfs = got.map(_.get)
      assert(dfs.forall(_ eq dfs.head), "every toucher must get the one built DataFrame")
    } finally Memo.release(s)
  }

  test("a failed build is not cached: waiters see its exception, the next touch rebuilds") {
    val s = spark.newSession()
    try {
      val (builds, got) = touchAtOnce(s, "fail")(n =>
        throw new IllegalStateException(s"build $n"))
      assert(builds == 1, s"expected one build, got $builds")
      val errs = got.map(_.failed.get)
      assert(errs.forall(_ eq errs.head), s"every waiter must see the builder's exception: $errs")
      assert(!Memo.keysFor(s).contains("false memospec fail"), "a failed build must not stay keyed")
      val rebuilt = Memo(s, cache = false, "memospec", "fail")(s.range(2).toDF())
      assert(rebuilt.count() == 2)
    } finally Memo.release(s)
  }

  private val sf = "/root/testdata/sf0.001"

  /** Run each query in one fresh session and return the memo keys whose
    * first key segment matches `shared` — the documented memo families
    * must collapse to exactly ONE entry (the round-4 verdict found the
    * q32/q82 propagation memo keyed on default-arg lambda class names,
    * distinct per call site, so the "shared" build silently ran twice).
    */
  private def sharedKeys(shared: String, queries: String*): Seq[String] = {
    val s = spark.newSession()
    try {
      queries.foreach(q => SparkEntry.queries(q)(s, sf).count())
      Memo.keysFor(s).filter(_.split(" ")(1) == shared)
    } finally Memo.release(s)
  }

  test("q32/q82 share one dedupLabels propagation") {
    val keys = sharedKeys("dedupLabels", "q32_dedup_clusters", "q82_canonical_docs")
    assert(keys.size == 1, s"expected one shared propagation, got $keys")
  }

  test("every dedup-ladder entry point's default generator hits ONE pair build") {
    // behavioral form of the default-identity property (the memo relies on
    // every default-argument site handing back the SAME function value,
    // not a per-site eta-expansion): run all five entry points with
    // defaults in one session and assert the minhashLshPairs memo family
    // collapsed to a single entry — if any site eta-expanded its own
    // lambda, its `pairGen eq MinhashLshGen` guard fails and the pair
    // table rebuilds un-memoized, which this test cannot see directly but
    // the dedupLabels family below can
    import graft.operators.Dedup
    val s = spark.newSession()
    try {
      Dedup.dedupClusters(s, sf).count()
      Dedup.canonicalDocs(s, sf).count()
      Dedup.dedupLabels(s, sf).count()
      Dedup.dedupLabelsConverged(s, sf).count()
      Dedup.dedupClustersStar(s, sf).count()
      val pairKeys = Memo.keysFor(s).filter(_.split(" ")(1) == "minhashLshPairs")
      assert(pairKeys.size == 1, s"expected one shared pair build, got $pairKeys")
      val labelKeys = Memo.keysFor(s).filter(_.split(" ")(1) == "dedupLabels")
      assert(labelKeys.size == 1, s"expected one shared propagation, got $labelKeys")
    } finally Memo.release(s)
  }

  test("q86 builds one CONVERGED dedupLabels propagation") {
    val keys = sharedKeys("dedupLabelsConverged", "q86_cc_converged")
    assert(keys.size == 1, s"expected one converged propagation, got $keys")
  }

  test("q87/q132 share one dedupLabelsStar build") {
    val keys = sharedKeys("dedupLabelsStar", "q87_cc_star", "q132_cluster_split")
    assert(keys.size == 1, s"expected one shared star propagation, got $keys")
    assert(sharedKeys("dedupLabelsStar", "q132_cluster_split") == keys,
      "q132 alone must build the same star labels q87 reads")
  }

  test("q15/q42/q63 share one minhashLshPairs build") {
    val keys = sharedKeys("minhashLshPairs",
      "q15_minhash_lsh", "q42_curation_pipeline", "q63_split_leakage")
    assert(keys.size == 1, s"expected one shared pair table, got $keys")
  }

  test("q73/q77/q83/q100/q107 share one bigramCounts build") {
    val keys = sharedKeys("bigramCounts",
      "q73_bigram_lm", "q77_bigram_surprisal", "q83_interp_surprisal",
      "q100_ppl_buckets", "q107_kn_surprisal")
    assert(keys.size == 1, s"expected one shared bigram table, got $keys")
  }

  test("q57/q75 share one packSequences build") {
    val keys = sharedKeys("packSequences", "q57_seq_packing", "q75_pack_materialize")
    assert(keys.size == 1, s"expected one shared pack table, got $keys")
  }

  test("q79/q94 share one BPE training trajectory") {
    val keys = sharedKeys("bpeMerges", "q79_bpe_train", "q94_bpe_encode")
    assert(keys.size == 1, s"expected one shared merge table, got $keys")
  }

  test("q62/q67/q91 share one coarse Lloyd training") {
    val keys = sharedKeys("lloydCentroids",
      "q62_kmeans", "q67_ann_ivf_kmeans", "q91_ann_ivf_pq")
    assert(keys.size == 1, s"expected one shared centroid table, got $keys")
  }

  test("q90/q96 share one hashed-bucket corpus pass") {
    val keys = sharedKeys("dsirHashedBuckets",
      "q90_dsir_hashed", "q96_source_divergence")
    assert(keys.size == 1, s"expected one shared bucket table, got $keys")
  }

  test("release frees localCheckpoint blocks, not just cached ones") {
    val other = spark.newSession()
    val before = spark.sparkContext.getPersistentRDDs.size
    Memo(other, cache = false, "memospec", "ckpt")(
      other.range(64).toDF.localCheckpoint())
    // the dedupLabels shape: the checkpoint sits UNDER a union, not at
    // the plan root — release must traverse, not pattern-match the root
    Memo(other, cache = false, "memospec", "ckpt-nested")(
      other.range(32).toDF.localCheckpoint().union(other.range(5).toDF))
    assert(spark.sparkContext.getPersistentRDDs.size > before,
      "localCheckpoint must have registered persistent RDDs")
    Memo.release(other)
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "release must unpersist checkpointed RDD blocks, root or nested")
  }

  test("a non-default pair generator is never memoized (no stale-closure trap)") {
    val s = spark.newSession()
    try {
      import graft.operators.Dedup
      Dedup.dedupLabels(s, sf, pairGen = Dedup.jaccardPairs(_, _, _)).count()
      assert(!Memo.keysFor(s).exists(_.split(" ")(1) == "dedupLabels"),
        "custom generators must bypass the memo — closure identity is not a key")
    } finally Memo.release(s)
  }

  test("release unpersists cached entries and evicts only that session") {
    val other = spark.newSession()
    val kept = Memo(spark, cache = false, "memospec", "keep")(spark.range(5).toDF)
    val dropped =
      Memo(other, cache = true, "memospec", "drop")(other.range(5).toDF)
    dropped.count() // materialize the cached blocks
    assert(dropped.storageLevel != StorageLevel.NONE)
    Memo.release(other)
    assert(dropped.storageLevel == StorageLevel.NONE,
      "release must unpersist the evicted session's cached blocks")
    val keptAgain =
      Memo(spark, cache = false, "memospec", "keep")(spark.range(77).toDF)
    assert(kept eq keptAgain, "release(other) must not evict this session")
    val rebuilt =
      Memo(other, cache = true, "memospec", "drop")(other.range(5).toDF)
    assert(!(rebuilt eq dropped), "released entry must rebuild on next touch")
    Memo.release(other)
  }
}
