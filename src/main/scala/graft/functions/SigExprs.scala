package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The signature kernels (MinHash, LSH band keys, SimHash, bit-block keys,
  * hashed shingles, winnowing, CDC chunks) as static JVM methods, each
  * called once per row through a [[NativeKernel]] expression.
  *
  * These replace the Scala UDFs that used to implement the feature stage of
  * the dedup pipeline (boxed `Seq[String]`/`Seq[Long]` per row — the largest
  * allocation source in the hottest path; BASELINE.md names GC rate as the
  * main non-scaling residue). Each kernel operates directly on
  * `ArrayData`/`UTF8String` buffers: no boxing, no Seq wrappers, and the
  * projection stays inside whole-stage codegen.
  *
  * Semantics are IDENTICAL to the Scala kernels in [[graft.sig.Signatures]]
  * (unit-tested for equality), so every oracle hash and the pipeline recall
  * are unchanged.
  *
  * PRECONDITION shared by the byte-window kernels ([[hashedShingles]],
  * [[simHashWords]]): the input string is output of
  * [[graft.sig.Signatures.normalizeCol]] (pure ASCII `[a-z0-9 ]`), so byte
  * offsets equal char offsets. That is the only form the pipeline feeds.
  */
object SigKernels {

  /** Mersenne prime 2^31-1 (MinHash permutation modulus). */
  val P: Long = 2147483647L

  private val XXSEED = 42L // Signatures.fastHash seed (xxhash64 default)

  // ------------------------------------------------------------- minhash

  /** MinHash signature from pre-hashed shingles: for each permutation i,
    * min over shingles of (a_i * floorMod(h, P) + b_i) mod P. Empty array
    * yields the all-zeros signature (matches Signatures.minHashFromHashes).
    */
  def minHashFromHashes(hs: ArrayData, a: Array[Long], b: Array[Long]): ArrayData = {
    val n = a.length
    val m = hs.numElements()
    val sig = new Array[Long](n)
    if (m == 0) return UnsafeArrayData.fromPrimitiveArray(sig)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var j = 0
    while (j < m) {
      val h = java.lang.Math.floorMod(hs.getLong(j), P)
      var i = 0
      while (i < n) {
        val v = (a(i) * h + b(i)) % P
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  // ------------------------------------------------------------ band keys

  /** String LSH band keys, `"band:v1,v2,...,vr"` — the exact strings
    * [[graft.sig.Signatures.bandKeys]] produces (and the DuckDB oracle
    * mirrors with `string_agg`).
    */
  def bandKeyStrings(sig: ArrayData, bands: Int): ArrayData = {
    val n = sig.numElements()
    val r = n / bands
    val out = new Array[Any](bands)
    val sb = new java.lang.StringBuilder(r * 11 + 4)
    var bIdx = 0
    while (bIdx < bands) {
      sb.setLength(0)
      sb.append(bIdx).append(':')
      var j = 0
      while (j < r) {
        if (j > 0) sb.append(',')
        sb.append(sig.getLong(bIdx * r + j))
        j += 1
      }
      out(bIdx) = UTF8String.fromString(sb.toString)
      bIdx += 1
    }
    new GenericArrayData(out)
  }

  /** Hashed LSH band keys for the pipeline's long-keyed blocking index:
    * a 64-bit mix of (band index, band values), masked to 58 bits so the
    * high 6 bits are zero — the key space is namespaced against the packed
    * bit-block keys (tag bits 62-63 nonzero there). A cross-band collision
    * only adds a candidate pair, which verification rejects; it can never
    * drop one.
    */
  def bandHashKeys(sig: ArrayData, bands: Int): ArrayData = {
    val n = sig.numElements()
    val r = n / bands
    val out = new Array[Long](bands)
    var bIdx = 0
    while (bIdx < bands) {
      var h = 0x9E3779B97F4A7C15L ^ (bIdx * 0xC2B2AE3D27D4EB4FL)
      var j = 0
      while (j < r) {
        h = java.lang.Long.rotateLeft(h ^ (sig.getLong(bIdx * r + j) * 0xC2B2AE3D27D4EB4FL), 31) *
          0x9E3779B97F4A7C15L
        j += 1
      }
      h ^= (h >>> 33); h *= 0xFF51AFD7ED558CCDL; h ^= (h >>> 33)
      out(bIdx) = h & 0x03FFFFFFFFFFFFFFL
      bIdx += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  // ------------------------------------------------------ bit-block keys

  /** Pigeonhole bit-block keys as strings `"i:v"` (mirrored by the DuckDB
    * oracle's `g.i || ':' || ((sh >> (g.i*per)) & mask)`).
    */
  def bitBlockKeyStrings(h: Long, blocks: Int, totalBits: Int): ArrayData = {
    val per = totalBits / blocks
    val mask = (1L << per) - 1
    val out = new Array[Any](blocks)
    var i = 0
    while (i < blocks) {
      out(i) = UTF8String.fromString(i.toString + ":" + ((h >>> (i * per)) & mask))
      i += 1
    }
    new GenericArrayData(out)
  }

  // --------------------------------------------------------- byte windows

  /** Sorted distinct xxhash64(seed 42) values of all k-byte windows of an
    * ASCII string — equal as a SET to hashing the distinct char k-shingles
    * (Signatures.shingles(s,k).map(fastHash)). Strings shorter than k yield
    * the single whole-string hash, so no record is unblockable.
    */
  def hashedShingles(s: UTF8String, k: Int): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes()
    if (n < k)
      return UnsafeArrayData.fromPrimitiveArray(
        Array(XXH64.hashUnsafeBytes(base, off, n, XXSEED)))
    val m = n - k + 1
    val arr = new Array[Long](m)
    var i = 0
    while (i < m) {
      arr(i) = XXH64.hashUnsafeBytes(base, off + i, k, XXSEED)
      i += 1
    }
    java.util.Arrays.sort(arr)
    var w = 1
    var rd = 1
    while (rd < m) {
      if (arr(rd) != arr(rd - 1)) { arr(w) = arr(rd); w += 1 }
      rd += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (w == m) arr else java.util.Arrays.copyOf(arr, w))
  }

  /** 32-bit variant of [[hashedShingles]]: sorted distinct
    * `xxhash64(shingle).toInt` values. The flagship pipeline's verify
    * shuffle co-locates TWO shingle arrays per candidate pair — its bytes
    * are the largest single memory-traffic item in the whole run, and on
    * this class of hardware (single shared DRAM bus) shuffle bytes are
    * what caps multi-core scaling. Truncating to 32 bits halves them; a
    * truncation collision inside one caption's ~100-shingle set only nudges
    * the Jaccard by ±1/|union| (the same 2^-32-scale error as any hashed
    * sketch), and the recall gates (n=1000, n=3000, gold) hold unchanged.
    */
  def hashedShingles32(s: UTF8String, k: Int): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes()
    if (n < k)
      return UnsafeArrayData.fromPrimitiveArray(
        Array(XXH64.hashUnsafeBytes(base, off, n, XXSEED).toInt))
    val m = n - k + 1
    val arr = new Array[Int](m)
    var i = 0
    while (i < m) {
      arr(i) = XXH64.hashUnsafeBytes(base, off + i, k, XXSEED).toInt
      i += 1
    }
    java.util.Arrays.sort(arr)
    var w = 1
    var rd = 1
    while (rd < m) {
      if (arr(rd) != arr(rd - 1)) { arr(w) = arr(rd); w += 1 }
      rd += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (w == m) arr else java.util.Arrays.copyOf(arr, w))
  }

  /** MinHash signature over a sorted-distinct INT shingle array (the
    * 32-bit pipeline feature form): identical structure to
    * [[minHashFromHashes]], with the sign-extended int as the shingle
    * value.
    */
  def minHashFromIntHashes(hs: ArrayData, a: Array[Long], b: Array[Long]): ArrayData = {
    val n = a.length
    val m = hs.numElements()
    val sig = new Array[Long](n)
    if (m == 0) return UnsafeArrayData.fromPrimitiveArray(sig)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var j = 0
    while (j < m) {
      val h = java.lang.Math.floorMod(hs.getInt(j).toLong, P)
      var i = 0
      while (i < n) {
        val v = (a(i) * h + b(i)) % P
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** Sorted distinct hash60 (md5-based, oracle-mirrorable) values of all
    * k-byte windows of an ASCII string — value-equal to
    * sort(distinct(shingles(s,k).map(hash60))) but one JVM pass instead of
    * the sequence→substring→md5→conv→array_distinct expression chain (the
    * chain allocates a hex string and parses base-16 per shingle; measured
    * as the dominant cost of the MinHash catalog query).
    */
  def hash60Shingles(s: UTF8String, k: Int): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes()
    if (n < k)
      return UnsafeArrayData.fromPrimitiveArray(Array(hash60Bytes(base, off, n)))
    val m = n - k + 1
    val arr = new Array[Long](m)
    var i = 0
    while (i < m) {
      arr(i) = hash60Bytes(base, off + i, k)
      i += 1
    }
    java.util.Arrays.sort(arr)
    var w = 1
    var rd = 1
    while (rd < m) {
      if (arr(rd) != arr(rd - 1)) { arr(w) = arr(rd); w += 1 }
      rd += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (w == m) arr else java.util.Arrays.copyOf(arr, w))
  }

  /** SimHash over the space-separated tokens of an ASCII string, without
    * materializing the token array. Tokenization matches Spark's
    * `split(c, " ")` (limit -1: interior AND trailing empty tokens are
    * kept); the empty string yields no tokens (simhash 0) — exactly
    * `simHashWith(wordsCol semantics, bits, hashFn)`.
    *
    * @param fast true -> xxhash64(seed 42) per token (pipeline);
    *             false -> the md5-based hash60 (oracle-mirrored catalog).
    */
  def simHashWords(s: UTF8String, bits: Int, fast: Boolean): Long = {
    val n = s.numBytes()
    if (n == 0) return 0L
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val acc = new Array[Int](bits)
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || Platform.getByte(base, off + i) == ' ') {
        val h =
          if (fast) XXH64.hashUnsafeBytes(base, off + start, i - start, XXSEED)
          else hash60Bytes(base, off + start, i - start)
        var b = 0
        while (b < bits) {
          if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
          b += 1
        }
        start = i + 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) {
      if (acc(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  // ------------------------------------------------------------ winnowing

  /** Winnowing fingerprint keys (Schleimer, Wilkerson, Aiken, SIGMOD 2003)
    * of an ASCII string: hash every char k-gram positionally, then in each
    * window of `w` consecutive gram positions select the minimum key —
    * the paper's guarantee is that any match of length ≥ w + k - 1 between
    * two documents shares at least one selected fingerprint, at an
    * expected density of 2/(w+1). Returned as the SORTED DISTINCT selected
    * keys, where key = (hash60(gram) mod 2^40) * 2^20 + pos — the position
    * is packed into the low 20 bits so ties inside a window (a gram
    * repeating within w positions) break deterministically toward the
    * EARLIEST position, by pure integer arithmetic a SQL oracle can
    * replay per-position (no sequential state). Strings shorter than k
    * yield the single whole-string gram; the empty string yields no keys.
    */
  def winnowKeys(s: UTF8String, k: Int, w: Int): ArrayData = {
    val n = s.numBytes()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val base = s.getBaseObject
    val off = s.getBaseOffset
    // key layout packs the gram position into the low 20 bits; grams past
    // position 2^20-1 (~1M chars of normalized text) would overflow into
    // the hash field, so fingerprinting covers the FIRST 2^20 grams only
    // (documented bound, mirrored by the oracle's capped gram count) —
    // partial-overlap detection against the head of a pathologically long
    // document rather than silently position-contaminated hashes
    val nG = if (n < k) 1 else math.min(n - k + 1, 1 << 20)
    val keys = new Array[Long](nG)
    var i = 0
    while (i < nG) {
      val h = if (n < k) hash60Bytes(base, off, n) else hash60Bytes(base, off + i, k)
      keys(i) = (h % 1099511627776L) * 1048576L + i
      i += 1
    }
    val sel = new java.util.TreeSet[java.lang.Long]()
    var t = 0
    val lastT = math.max(nG - w, 0)
    while (t <= lastT) {
      var m = Long.MaxValue
      var j = t
      val end = math.min(t + w, nG)
      while (j < end) { if (keys(j) < m) m = keys(j); j += 1 }
      sel.add(m)
      t += 1
    }
    new GenericArrayData(sel.toArray(new Array[AnyRef](sel.size())))
  }

  /** DISTINCT winnowing fingerprint HASHES of a document (the position
    * field of [[winnowKeys]] dropped in-kernel): the inverted-index key
    * set for cross-document pairing. Deduplicating inside the kernel
    * means the exploded (doc_id, fph) frame is distinct BY CONSTRUCTION —
    * no shuffle-distinct over the ~10x larger positional key stream, and
    * ~2/(w+1) of the gram count rows leave the row map at all.
    */
  def winnowFphs(s: UTF8String, k: Int, w: Int): ArrayData = {
    val keys = winnowKeys(s, k, w)
    val n = keys.numElements()
    val set = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { set.add(keys.getLong(i) >>> 20); i += 1 }
    new GenericArrayData(set.toArray(new Array[AnyRef](set.size())))
  }

  /** Canonical (min, max) id pairs of one blocking bucket, streamed: one
    * pair per index pair i < j whose ids are both non-null and distinct,
    * ordered by `ord` — the element type's interpreted ordering, the one
    * Spark's `least`/`greatest` use (numeric for bigint, UTF-8 byte order
    * for string). Lazy: a bucket of n ids holds its n ids, never its
    * C(n,2) pairs, so an uncapped bucket needs no per-bucket pair buffer.
    * A null bucket yields no pairs.
    */
  def bucketPairs(a: ArrayData, idType: DataType, ord: Ordering[Any]): Iterator[InternalRow] = {
    if (a == null) return Iterator.empty
    val ids = a.toObjectArray(idType).filter(_ != null)
    val n = ids.length
    for {
      i <- Iterator.range(0, n)
      j <- Iterator.range(i + 1, n)
      c = ord.compare(ids(i), ids(j))
      if c != 0
    } yield
      if (c < 0) new GenericInternalRow(Array[Any](ids(i), ids(j)))
      else new GenericInternalRow(Array[Any](ids(j), ids(i)))
  }

  /** Comma-joined decimal rendering of an array<bigint> — the digest
    * preimage for fingerprint-set hashing ("1,2,3"; empty array → "").
    * Exists so the join stays inside whole-stage codegen: the equivalent
    * `array_join(transform(...))` is a higher-order function, which
    * Catalyst evaluates interpreted and which splits the codegen stage.
    */
  def joinLongsCsv(a: ArrayData): UTF8String = {
    val n = a.numElements()
    val sb = new java.lang.StringBuilder(n * 12)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(',')
      sb.append(a.getLong(i))
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  // --------------------------------------------------------- CDC chunking

  /** Content-defined chunks of an ASCII string: a chunk boundary falls
    * AFTER position i (1-based) whenever the hash60 of the k-byte window
    * ENDING at i is ≡ 0 (mod `mod`) — a purely positional rule (no
    * min/max-length clamps), so boundaries survive arbitrary insertions
    * and deletions elsewhere in the document AND the DuckDB oracle can
    * recompute them per-position without replaying sequential state.
    * Strings shorter than k form a single chunk; the empty string yields
    * no chunks. Expected chunk length ≈ `mod` bytes.
    */
  def cdcChunks(s: UTF8String, k: Int, mod: Int): ArrayData = {
    val n = s.numBytes()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val base = s.getBaseObject
    val off = s.getBaseOffset
    def slice(from: Int, until: Int): UTF8String = {
      val buf = new Array[Byte](until - from)
      Platform.copyMemory(base, off + from, buf, Platform.BYTE_ARRAY_OFFSET, until - from)
      UTF8String.fromBytes(buf)
    }
    if (n < k) return new GenericArrayData(Array[Any](slice(0, n)))
    val out = new java.util.ArrayList[AnyRef]()
    var start = 0
    var i = k // window end (exclusive, 0-based) == 1-based end position
    while (i <= n) {
      if (hash60Bytes(base, off + i - k, k) % mod == 0) {
        out.add(slice(start, i))
        start = i
      }
      i += 1
    }
    if (start < n) out.add(slice(start, n))
    new GenericArrayData(out.toArray)
  }

  private val mdLocal: ThreadLocal[java.security.MessageDigest] =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** hash60 (first 60 bits of md5) over a byte window — equals
    * Signatures.hash60 of the corresponding ASCII substring.
    */
  private def hash60Bytes(base: AnyRef, off: Long, len: Int): Long = {
    val buf = new Array[Byte](len)
    Platform.copyMemory(base, off, buf, Platform.BYTE_ARRAY_OFFSET, len)
    val md = mdLocal.get()
    md.reset()
    val d = md.digest(buf)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xFFL); i += 1 }
    (v << 4) | ((d(7) & 0xF0L) >>> 4)
  }
}

/** Within-bucket pair expansion for blocking: a generator emitting
  * (id1, id2) rows from an array<bigint> or array<string> bucket — see
  * [[SigKernels.bucketPairs]]. Codegen'd: whole-stage codegen iterates the
  * kernel's pair stream directly (Catalyst evaluates the equivalent
  * `transform`/`slice` higher-order-function chain interpreted).
  */
case class BucketPairs(child: Expression) extends UnaryExpression with Generator {

  private def idType: DataType = child.dataType.asInstanceOf[ArrayType].elementType

  @transient private lazy val ordering = PhysicalDataType.ordering(idType)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType | StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"bucket_pairs requires array<bigint> or array<string>, got ${t.simpleString}")
  }

  override def elementSchema: StructType = StructType(Seq(
    StructField("id1", idType, nullable = false),
    StructField("id2", idType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    SigKernels.bucketPairs(child.eval(input).asInstanceOf[ArrayData], idType, ordering)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ids = child.genCode(ctx)
    val typeRef = ctx.addReferenceObj("idType", idType)
    val ordRef = ctx.addReferenceObj("idOrdering", ordering, "scala.math.Ordering")
    ev.copy(code = code"""
      |${ids.code}
      |scala.collection.Iterator<InternalRow> ${ev.value} =
      |  graft.functions.SigKernels.bucketPairs(
      |    ${ids.isNull} ? null : ${ids.value}, $typeRef, $ordRef);
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column constructors of the string-level kernels that have no
  * [[graft.sig.Signatures]] column form (the feature kernels' constructors
  * are the `Signatures.*Col` defs).
  */
object SigExprs {
  import NativeKernel.{Longs, Strings}
  import org.apache.spark.sql.GraftColumnBridge.{column, expression}

  /** Content-defined chunks (array<string>) of a normalized ASCII string —
    * see [[SigKernels.cdcChunks]] for the positional boundary rule.
    */
  def cdcChunks(c: Column, k: Int, mod: Int): Column =
    NativeKernel.call("CdcChunks", SigKernels, "cdcChunks", Strings, c -> StringType)(k, mod)

  /** Winnowing fingerprint keys (sorted distinct array<bigint>) — see
    * [[SigKernels.winnowKeys]] for the selection rule and key packing.
    */
  def winnowKeys(c: Column, k: Int, w: Int): Column =
    NativeKernel.call("WinnowKeys", SigKernels, "winnowKeys", Longs, c -> StringType)(k, w)

  /** Distinct winnowing fingerprint hashes per document — see
    * [[SigKernels.winnowFphs]].
    */
  def winnowFphs(c: Column, k: Int, w: Int): Column =
    NativeKernel.call("WinnowFphs", SigKernels, "winnowFphs", Longs, c -> StringType)(k, w)

  /** Comma-joined decimal string of an array<bigint> — codegen'd digest
    * preimage; see [[SigKernels.joinLongsCsv]].
    */
  def joinLongsCsv(c: Column): Column =
    NativeKernel.call("JoinLongsCsv", SigKernels, "joinLongsCsv", StringType, c -> Longs)()

  def bucketPairs(c: Column): Column =
    column(BucketPairs(expression(c)))
}
