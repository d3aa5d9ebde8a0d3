package graft.sig

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

import graft.functions.{NativeKernel, SigKernels, TextNorm}
import graft.functions.NativeKernel.{Ints, Longs, Strings}
import graft.model.DedupConfig

/** Signature kernels: normalization, shingling, MinHash, SimHash.
  *
  * Replaces the reference's sorted-neighborhood blocking keys
  * (bakdata/dedupe `common/.../OnlineSortedNeighborhoodMethod.java:64-189`,
  * `examples/.../PersonCandidateSelection.java:38-64`) with LSH-style
  * signatures that block at 10^12 scale (SURVEY.md §2.2).
  *
  * Every kernel exists in two exactly-equivalent forms:
  *  - a Catalyst `Column` expression (codegen'd, used by the pipeline), and
  *  - a pure-Scala function (used by unit tests and the in-memory oracle).
  *
  * The base hash is **hash60**: the first 15 hex chars of md5(utf8(s)) read
  * as an unsigned integer (60 bits, always non-negative in a Long). It is
  * chosen because the identical value is computable in ANSI-ish SQL
  * (`('0x'||substr(md5(x),1,15))::BIGINT` in DuckDB), which lets the driver's
  * oracle mirror MinHash/SimHash byte-for-byte with pure integer math.
  * MinHash permutations are affine maps `(a_i*h + b_i) mod P`, P = 2^31-1,
  * with h pre-reduced mod P so every product fits in a signed 64-bit integer
  * in any SQL engine.
  */
object Signatures {

  /** Mersenne prime 2^31-1: modulus of the MinHash permutation family. */
  val P: Long = 2147483647L

  // ---------------------------------------------------------------- hash60

  private val mdLocal: ThreadLocal[MessageDigest] = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  def hash60(s: String): Long = {
    val md = mdLocal.get()
    md.reset()
    val d = md.digest(s.getBytes("UTF-8"))
    // value of the first 15 hex chars of the digest = first 7.5 bytes:
    // bytes 0..6 then the high nibble of byte 7 (same result as formatting
    // a hex string and parsing it, without the per-byte formatting cost)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xFFL); i += 1 }
    (v << 4) | ((d(7) & 0xF0L) >>> 4)
  }

  def hash60Col(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** SQL fragment computing hash60 in DuckDB (for oracle generation). */
  def hash60Sql(expr: String): String =
    s"(('0x' || substr(md5($expr), 1, 15))::BIGINT)"

  // ------------------------------------------------------------- fast hash

  /** Pipeline-side fast string hash: Spark's xxhash64 (seed 42), ~50x
    * cheaper than the md5-based hash60. The ORACLE-MIRRORED catalog queries
    * keep hash60 (DuckDB can reproduce md5); the flagship pipeline and its
    * in-memory test oracle only need *some* shared injective hash, so they
    * share this one. Exactly `xxhash64(col)` in Column form.
    */
  def fastHash(s: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(s),
      org.apache.spark.sql.types.StringType, 42L)

  def fastHashCol(c: Column): Column = xxhash64(c)

  /** 32-bit truncation of [[fastHash]] — the pipeline shingle feature
    * element (half the shuffle bytes; a within-caption truncation collision
    * nudges Jaccard by ±1/|union|, below any threshold's resolution).
    */
  def fastHash32(s: String): Int = fastHash(s).toInt

  // ----------------------------------------------------- permutation seeds

  /** Deterministic affine-permutation coefficients: a_i in [1, P-1],
    * b_i in [0, P-1], derived from hash60 so the oracle can embed the same
    * literal constants.
    */
  def seedsA(n: Int, seed: Long): Array[Long] =
    Array.tabulate(n)(i => (hash60(s"a:$seed:$i") % (P - 1)) + 1)

  def seedsB(n: Int, seed: Long): Array[Long] =
    Array.tabulate(n)(i => hash60(s"b:$seed:$i") % P)

  // ---------------------------------------------------------- normalization

  /** Caption normalization, the full reference semantics
    * (`PersonCandidateSelection.java:53-64`): lowercase, NFD accent fold +
    * strip combining marks ("Héllo" -> "hello", not "hllo"), remove braced
    * terms `\(.*?\)`, strip non-alphanumerics; spaces are kept (single,
    * trimmed) so word tokenization survives — a documented deviation.
    * Backed by the codegen'd single-pass kernel [[graft.functions.TextNorm]].
    */
  def normalize(s: String): String = TextNorm.normalize(s)

  def normalizeCol(c: Column): Column =
    NativeKernel.call("NormalizeText", TextNorm, "normalizeUtf8", StringType, c -> StringType)()

  /** Identical normalization in DuckDB SQL (needs explicit 'g' flag;
    * `strip_accents` is DuckDB's NFD-fold analog).
    */
  def normalizeSql(expr: String): String =
    s"trim(regexp_replace(regexp_replace(regexp_replace(strip_accents(lower($expr)), " +
      s"'\\(.*?\\)', '', 'g'), '[^a-z0-9 ]', '', 'g'), '\\s+', ' ', 'g'))"

  // --------------------------------------------------------------- shingles

  /** Distinct char k-shingles of the normalized string; a string shorter
    * than k yields the single shingle [s] so no record is unblockable.
    * Ref analog: `CommonTransformations.ngram`, :85-89.
    */
  def shingles(s: String, k: Int): Seq[String] =
    if (s.length >= k) (0 to s.length - k).map(i => s.substring(i, i + k)).distinct
    else Seq(s)

  def shinglesCol(c: Column, k: Int): Column =
    when(length(c) >= k,
      array_distinct(transform(
        sequence(lit(1), length(c) - (k - 1)),
        i => substring(c, i, lit(k)))))
      .otherwise(array(c))

  /** Word tokens of the normalized string (ref `CommonTransformations.words`,
    * :147-149). Empty string yields an empty array.
    */
  def words(s: String): Seq[String] =
    if (s.isEmpty) Seq.empty else s.split(" ").toSeq

  def wordsCol(c: Column): Column =
    when(length(c) === 0, array().cast("array<string>")).otherwise(split(c, " "))

  /** Distinct word n-grams joined by a single space. */
  def wordNgrams(s: String, n: Int): Seq[String] = {
    val ws = words(s)
    if (ws.length >= n) ws.sliding(n).map(_.mkString(" ")).toSeq.distinct
    else if (ws.isEmpty) Seq.empty
    else Seq(ws.mkString(" "))
  }

  /** Column form of [[wordNgrams]] over a normalized-string column.
    * NULL-safe: a NULL document yields NO grams (like an empty one) — the
    * un-guarded otherwise() branch used to turn NULL into `array("")` via
    * concat_ws's null-swallowing, fabricating one phantom empty gram.
    */
  def wordNgramsCol(c: Column, n: Int): Column = {
    val ws = wordsCol(c)
    when(c.isNull, array().cast("array<string>"))
      .when(size(ws) >= n,
        array_distinct(transform(
          sequence(lit(1), size(ws) - (n - 1)),
          i => concat_ws(" ", slice(ws, i, lit(n))))))
      .when(size(ws) === 0, array().cast("array<string>"))
      .otherwise(array(concat_ws(" ", ws)))
  }

  // ---------------------------------------------------------------- MinHash

  /** MinHash signature of a shingle set: for each i, min over shingles of
    * (a_i * (hash60(sh) mod P) + b_i) mod P. Pure-Scala form.
    */
  def minHash(shs: Seq[String], a: Array[Long], b: Array[Long]): Array[Long] = {
    val n = a.length
    val sig = Array.fill(n)(Long.MaxValue)
    val it = shs.iterator
    while (it.hasNext) {
      val h = hash60(it.next()) % P
      var i = 0
      while (i < n) {
        val v = (a(i) * h + b(i)) % P
        if (v < sig(i)) sig(i) = v
        i += 1
      }
    }
    if (shs.isEmpty) Array.fill(n)(0L) else sig
  }

  /** MinHash from pre-hashed (hash60) shingles — identical signatures to
    * [[minHash]] on the original strings, since that path also reduces via
    * hash60(sh) mod P first.
    */
  def minHashFromHashes(hs: Seq[Long], a: Array[Long], b: Array[Long]): Array[Long] = {
    val n = a.length
    val sig = Array.fill(n)(Long.MaxValue)
    val it = hs.iterator
    while (it.hasNext) {
      // floorMod: inputs may be full-range xxhash64 values (fast path)
      val h = java.lang.Math.floorMod(it.next(), P)
      var i = 0
      while (i < n) {
        val v = (a(i) * h + b(i)) % P
        if (v < sig(i)) sig(i) = v
        i += 1
      }
    }
    if (hs.isEmpty) Array.fill(n)(0L) else sig
  }

  /** LSH band keys: one string key per band, `band:v1,v2,...,vr` — plain
    * decimal renderings so a SQL oracle can reproduce them with string
    * concatenation of the same integers.
    */
  def bandKeys(sig: Array[Long], bands: Int): Seq[String] = {
    val r = sig.length / bands
    (0 until bands).map { bIdx =>
      val sb = new StringBuilder
      sb.append(bIdx).append(':')
      var j = 0
      while (j < r) {
        if (j > 0) sb.append(',')
        sb.append(sig(bIdx * r + j))
        j += 1
      }
      sb.toString
    }
  }

  // ---------------------------------------------------------------- SimHash

  /** SimHash over word tokens (with multiplicity): bit b of the result is 1
    * iff sum over tokens of (2*bit_b(hash60(tok)) - 1) > 0. Width `bits`
    * <= 60 so the shared hash covers it. Ref analog: the image/caption-side
    * near-dup signature required by BASELINE.json north_star.
    */
  def simHash(tokens: Seq[String], bits: Int): Long = simHashWith(tokens, bits, hash60)

  /** SimHash over an arbitrary token-hash function — the pipeline uses
    * [[fastHash]], the oracle-mirrored catalog keeps [[hash60]].
    */
  def simHashWith(tokens: Seq[String], bits: Int, hashFn: String => Long): Long = {
    val acc = new Array[Int](bits)
    tokens.foreach { t =>
      val h = hashFn(t)
      var b = 0
      while (b < bits) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < bits) {
      if (acc(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  def hamming(x: Long, y: Long): Int = java.lang.Long.bitCount(x ^ y)

  def hammingCol(x: Column, y: Column): Column = bit_count(x.bitwiseXOR(y))

  // -------------------------------------------------- bit-block band keys

  /** Pigeonhole band keys for Hamming-distance blocking over a 64-bit hash:
    * split into `blocks` contiguous blocks; two hashes within Hamming
    * distance (blocks-1) share at least one identical block. Key string is
    * `blockIdx:blockValue`.
    */
  def bitBlockKeys(h: Long, blocks: Int, totalBits: Int): Seq[String] = {
    val per = totalBits / blocks
    (0 until blocks).map { i =>
      val v = (h >>> (i * per)) & ((1L << per) - 1)
      s"$i:$v"
    }
  }

  // --------------------------------------- Column forms (native, codegen'd)
  // Each signature Column API calls its kernel in graft.functions.SigKernels
  // through one NativeKernel expression — no Scala UDFs anywhere in the
  // feature or blocking paths; the Scala functions above remain as the
  // unit-test / in-memory-oracle mirrors.

  /** MinHash signature of a STRING shingle array (oracle-mirrored catalog
    * path): hash60 each shingle with built-in md5/conv expressions, then the
    * native MinHash kernel. Identical output to [[minHash]]: that path also
    * reduces via hash60(sh) mod P first (floorMod == % for the non-negative
    * 60-bit hash).
    */
  def minHashCol(shinglesCol: Column, cfg: DedupConfig): Column =
    minHashFromHashesCol(transform(shinglesCol, s => hash60Col(s)), cfg)

  def minHashFromHashesCol(hashedShingles: Column, cfg: DedupConfig): Column =
    NativeKernel.call("MinHashFromHashes", SigKernels, "minHashFromHashes", Longs,
      hashedShingles -> Longs)(seedsA(cfg.numHashes, cfg.seed), seedsB(cfg.numHashes, cfg.seed))

  /** MinHash over the 32-bit shingle feature (array<int>, sign-extended
    * per element) — the pipeline's form; same permutations as
    * [[minHashFromHashesCol]].
    */
  def minHashFromIntHashesCol(hashedShingles32: Column, cfg: DedupConfig): Column =
    NativeKernel.call("MinHashFromIntHashes", SigKernels, "minHashFromIntHashes", Longs,
      hashedShingles32 -> Ints)(seedsA(cfg.numHashes, cfg.seed), seedsB(cfg.numHashes, cfg.seed))

  /** String band keys ("band:v1,v2,...") — exact mirror of [[bandKeys]] and
    * the oracle's string_agg form.
    */
  def bandKeysCol(sigCol: Column, bands: Int): Column =
    NativeKernel.call("BandKeyStrings", SigKernels, "bandKeyStrings", Strings, sigCol -> Longs)(bands)

  /** Hashed long band keys — the pipeline's compact blocking index (8-byte
    * keys; high 6 bits zero, namespaced against packed bit-block keys).
    */
  def bandHashKeysCol(sigCol: Column, bands: Int): Column =
    NativeKernel.call("BandHashKeys", SigKernels, "bandHashKeys", Longs, sigCol -> Longs)(bands)

  /** SimHash of a normalized string's space-separated tokens, hash60 token
    * hash (oracle-mirrored catalog path). Equals
    * simHash(words(norm), bits).
    */
  def simHashWordsCol(normCol: Column, bits: Int): Column =
    NativeKernel.call("SimHashWords", SigKernels, "simHashWords", LongType, normCol -> StringType)(
      bits, false)

  /** Pipeline-side SimHash over xxhash64 token hashes, straight off the
    * normalized string (no token array materialized). Equals
    * simHashWith(words(norm), bits, fastHash).
    */
  def simHashFastCol(normCol: Column, bits: Int): Column =
    NativeKernel.call("SimHashWords", SigKernels, "simHashWords", LongType, normCol -> StringType)(
      bits, true)

  def bitBlockKeysCol(hCol: Column, blocks: Int, totalBits: Int): Column =
    NativeKernel.call("BitBlockKeyStrings", SigKernels, "bitBlockKeyStrings", Strings,
      hCol -> LongType)(blocks, totalBits)

  /** Sorted distinct xxhash64 char-k shingle hashes of a normalized string —
    * the pipeline feature kernel (set-equal to
    * shingles(norm,k).map(fastHash)).
    */
  def hashedShinglesCol(normCol: Column, k: Int): Column =
    NativeKernel.call("HashedShingles", SigKernels, "hashedShingles", Longs, normCol -> StringType)(k)

  /** Sorted distinct 32-bit (`fastHash(_).toInt`) char-k shingle hashes —
    * the flagship pipeline feature (set-equal to
    * shingles(norm,k).map(fastHash32)); see SigKernels.hashedShingles32 for
    * why 32 bits.
    */
  def hashedShingles32Col(normCol: Column, k: Int): Column =
    NativeKernel.call("HashedShingles32", SigKernels, "hashedShingles32", Ints,
      normCol -> StringType)(k)

  /** Sorted distinct hash60 char-k shingle hashes — the oracle-mirrorable
    * (md5-based) feature kernel of the MinHash catalog queries (set-equal
    * to shingles(norm,k).map(hash60)).
    */
  def hash60ShinglesCol(normCol: Column, k: Int): Column =
    NativeKernel.call("Hash60Shingles", SigKernels, "hash60Shingles", Longs, normCol -> StringType)(k)
}
