package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.types.{BooleanType, LongType}

/** Broadcast Bloom-filter membership over a double-hashed 60-bit key pair —
  * the standing-corpus dedup primitive (ref semantics: the "have we seen
  * this content before" test of an online/incremental deduplication, ref
  * core/src/main/java/com/bakdata/dedupe/duplicate_detection/online/
  * OnlineDuplicateDetection.java:34 generalized to a membership sketch).
  *
  * Scale shape for 10^12 rows: the corpus side is folded into an m-bit
  * bitset with a shuffle-free treeAggregate (each partition ORs its local
  * 128 KB bitset, partial bitsets merge up a tree — the same job shape as
  * Spark's own DataFrameStatFunctions.bloomFilter), the bitset is shipped
  * once per executor inside the plan (codegen reference object), and the
  * probe side is a pure map — the corpus is NEVER shuffled or joined for
  * the membership test. Unlike Spark's built-in bloomFilter, positions are
  * derived from two md5 halves with Kirsch–Mitzenmacher double hashing
  * (pos_i = (h1 + i*h2) mod m), which a SQL oracle reproduces with exact
  * integer arithmetic.
  */
object Bloom {

  /** PRECONDITION: 0 <= h1, h2 < 2^60 and k*h2 + h1 < 2^63 (60-bit md5
    * halves with k <= 7 satisfy this), m a power of two.
    */
  def contains(bits: Array[Long], m: Int, k: Int, h1: Long, h2: Long): Boolean = {
    var i = 0
    while (i < k) {
      val p = ((h1 + i * h2) % m).toInt
      if ((bits(p >> 6) & (1L << (p & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** Fold a (h1: bigint, h2: bigint) frame into the m-bit bitset.
    * treeAggregate: no shuffle — per-partition bitsets (m/8 bytes each)
    * OR-merge up a 2-ary tree, so driver traffic is O(m * log parts), not
    * O(rows). The RDD drop-down is the per-partition imperative bit-set
    * fold itself (same altitude as Spark's stat.bloomFilter).
    */
  def buildBits(hashes: DataFrame, m: Int, k: Int): Array[Long] = {
    require(m % 64 == 0 && Integer.bitCount(m) == 1, s"m must be a power of two: $m")
    hashes.select("h1", "h2").rdd.treeAggregate(new Array[Long](m / 64))(
      (b, row) => {
        val h1 = row.getLong(0); val h2 = row.getLong(1)
        var i = 0
        while (i < k) {
          val p = ((h1 + i * h2) % m).toInt
          b(p >> 6) |= 1L << (p & 63)
          i += 1
        }
        b
      },
      (a, b) => {
        var i = 0
        while (i < a.length) { a(i) |= b(i); i += 1 }
        a
      })
  }

  /** [[contains]] with the row values first — the argument order of a
    * [[NativeKernel]] call.
    */
  def containsPair(h1: Long, h2: Long, bits: Array[Long], m: Int, k: Int): Boolean =
    contains(bits, m, k, h1, h2)

  def containsCol(h1: Column, h2: Column, bits: Array[Long], m: Int, k: Int): Column =
    NativeKernel.call("BloomContains", this, "containsPair", BooleanType,
      h1 -> LongType, h2 -> LongType)(bits, m, k)
}
