package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Hash-sketch column library for near-duplicate detection: word
  * shingles, MinHash signatures, LSH band keys, SimHash. All built on
  * Spark's codegen'd `xxhash64` and higher-order array functions — no
  * UDFs, so signatures are computed in the scan stage.
  *
  * These are the scale path for dedup: exact all-pairs Jaccard is
  * quadratic, while MinHash/SimHash banding turns it into a hash
  * partition on (band, key) whose cost is proportional to true-duplicate
  * density (Broder's MinHash / Charikar's SimHash — see PAPERS.md corpus).
  */
object Hashing {

  /** Distinct n-gram word shingles of a token array; empty when the doc
    * has fewer than n tokens. Native codegen expression
    * (plans.WordShinglesExpr) — one tight loop per row; first-occurrence
    * order, exactly array_distinct(shinglesAllHof).
    */
  def shingles(toks: Column, n: Int = 3): Column =
    graft.plans.WordShinglesOps.wordShingles(toks, n, distinct = true)

  /** All n-gram shingles in order, duplicates KEPT — element k (1-based)
    * is the gram starting at token k. The positional form exact-substring
    * coverage needs (`shingles` is the distinct set-semantics view).
    */
  def shinglesAll(toks: Column, n: Int): Column =
    graft.plans.WordShinglesOps.wordShingles(toks, n, distinct = false)

  /** Interpreted HOF reference for `shinglesAll` — kept as the
    * cross-check the native expression is asserted against. Built as a
    * zip of n shifted slices rather than indexed element_at lookups:
    * HOF lambdas are interpreted (no codegen), and a non-attribute child
    * of an expression inside a lambda is RE-EVALUATED on every
    * iteration — an element_at(tokenize(text), i) formulation
    * re-tokenizes the document O(n·|doc|) times. zip_with/slice evaluate
    * each argument once per row.
    */
  def shinglesAllHof(toks: Column, n: Int): Column = {
    val len = size(toks) - (n - 1)
    val joined = (2 to n).foldLeft(slice(toks, lit(1), len)) { (acc, j) =>
      zip_with(acc, slice(toks, lit(j), len), (a, b) => concat_ws(" ", a, b))
    }
    when(size(toks) >= n, joined)
      .otherwise(array().cast("array<string>"))
  }

  /** MinHash signature: k simulated permutations; sig[i] = min over
    * shingles of the i-th derived hash. Native codegen expression
    * (plans.MinHashSigExpr): one byte-hash per shingle + k cheap mixes,
    * replacing the interpreted HOF fold that evaluated k hash expression
    * trees per shingle (the round-1 dedup-family hot spot). Docs with no
    * shingles get the all-MaxValue signature; their band collisions are
    * discarded by the exact-Jaccard re-check.
    */
  def minhashSignature(shingleArr: Column, k: Int = 64): Column =
    graft.plans.MinHashSigs.minhashSig(shingleArr, k)

  /** LSH band keys of a MinHash signature: bands of `r` rows, each band
    * reduced to one 64-bit key = xxhash64(bandIdx, sig rows...). Emits an
    * array of (k/r) keys; docs sharing any (bandIdx, key) are candidates.
    */
  def bandKeys(sig: Column, k: Int = 64, r: Int = 2): Column =
    transform(sequence(lit(0), lit(k / r - 1)), b =>
      xxhash64((b +: (0 until r).map(j => element_at(sig, b * r + j + 1))): _*))

  /** Unsigned 32-bit value of md5 hex chars [from, from+8) as a long —
    * the cross-engine token hash primitive: DuckDB mirrors it with
    * per-nibble strpos arithmetic over the same md5 hex string, so every
    * sketch built on it is oracle-checkable (round 1 used xxhash64, which
    * no other engine can reproduce). Since round 10 the Column form is
    * the native codegen expression (plans.Md5Bits32Expr — digest nibbles
    * read directly, no hex-string round trip); `md5Bits32Composed` keeps
    * the built-in chain as the equality reference.
    */
  def md5Bits32(t: Column, from: Int): Column =
    graft.plans.Md5Bits32s.md5Bits32(t, from)

  /** The composed-builtin reference form of `md5Bits32` (hex encode →
    * substring → radix parse) — value-identical; spec-asserted.
    */
  def md5Bits32Composed(t: Column, from: Int): Column =
    conv(substring(md5(t), from, 8), 16, 10).cast("long")

  /** JVM twin of `md5Bits32(_, 1) % mod` — for stateful processors that
    * must make the same per-row hash-bucket decision outside Column
    * space (e.g. the incremental manifest's fallback split, q145's
    * driver walk). Kept next to the Column form so the two can never
    * drift. The first 8 hex chars ARE the first 4 digest bytes, read
    * big-endian, so no hex string is built.
    */
  def md5BucketJvm(s: String, mod: Long): Long = {
    val b = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    ((b(0) & 0xffL) << 24 | (b(1) & 0xffL) << 16 | (b(2) & 0xffL) << 8 |
      (b(3) & 0xffL)) % mod
  }

  /** 64-bit md5-derived token hash: (hi32 << 32) | lo32 of the first 16
    * hex nibbles. Bit k (weight 2^k) = bit k of lo for k<32, bit k-32 of
    * hi otherwise — the form the DuckDB oracle extracts without 64-bit
    * unsigned arithmetic.
    */
  def md5Hash64(t: Column): Column =
    shiftleft(md5Bits32(t, 1), 32).bitwiseOR(md5Bits32(t, 9))

  /** 64-bit SimHash of a token array: bit k is the sign of the per-bit
    * vote sum over md5-derived token hashes (md5Hash64), reproducible in
    * the DuckDB oracle (SparkEntry q23). Native codegen expression
    * (plans.SimHashExpr): one md5 + 64 bit ops per token in a tight
    * generated loop — the HOF reference form below paid ~130 interpreted
    * lambda dispatches and two array allocations per token (the last
    * interpreted sketch hot path). Bit-identical to the HOF form
    * (asserted in DedupSimilaritySpec).
    */
  def simhash(toks: Column): Column = graft.plans.SimHashes.simhash64(toks)

  /** Interpreted HOF reference implementation of `simhash` — kept as the
    * cross-check the native expression is asserted against: a single
    * fold with a 64-long vote-vector accumulator (64 separate per-bit
    * aggregates would re-evaluate the token-hash expression 64× per row —
    * see shingles() on interpreted-HOF re-evaluation).
    */
  def simhashHof(toks: Column): Column = {
    val powers = typedLit((0 until 64).map(k => 1L << k))
    val votes = aggregate(
      transform(toks, t => md5Hash64(t)),
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(
        acc,
        transform(powers, p =>
          when(h.bitwiseAND(p) =!= 0L, lit(1L)).otherwise(lit(-1L))),
        (a, v) => a + v))
    aggregate(
      zip_with(votes, powers, (v, p) => when(v > 0, p).otherwise(lit(0L))),
      lit(0L), _ + _)
  }

  /** Hamming distance between two 64-bit sketches. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** 16-bit chunks of a 64-bit sketch for Hamming-band joins: two sketches
    * within Hamming distance 3 share at least one of the 4 chunks
    * (pigeonhole), so equality on (chunkIdx, chunkValue) is a complete
    * candidate generator for d ≤ 3.
    */
  def hammingBands(sketch: Column): Column =
    array((0 until 4).map(i =>
      struct(lit(i).as("band"),
        shiftright(sketch, i * 16).bitwiseAND(lit(0xFFFFL)).as("key"))): _*)
}
