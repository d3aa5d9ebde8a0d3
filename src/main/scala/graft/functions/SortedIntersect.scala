package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{lit, size, when}
import org.apache.spark.sql.types.IntegerType

import NativeKernel.Longs

/** Intersection cardinality of two SORTED long arrays (merge scan). Kernel
  * of [[SortedIntersect.card]]: `array_intersect` builds a hash set per row
  * and materializes the intersection array; for the verify hot path we
  * only need |∩| of two pre-sorted hash shingle arrays, which a merge scan
  * computes in O(n+m) reading primitive longs straight out of ArrayData —
  * no boxing, no allocation. PRECONDITION: both arrays sorted ascending,
  * distinct — unsorted input undercounts (documented in the SQL usage
  * string).
  */
object SortedLongIntersectCard {
  def card(x: ArrayData, y: ArrayData): Int = {
    var i = 0; var j = 0; var c = 0
    val n = x.numElements(); val m = y.numElements()
    while (i < n && j < m) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }
}

/** Int sibling of [[SortedLongIntersectCard]] for the 32-bit pipeline
  * shingle feature (array<int>, sorted ascending, distinct); the flagship's
  * verify cascade ([[graft.classify.Verify]]) calls it directly.
  */
object SortedIntIntersectCard {
  def card(x: ArrayData, y: ArrayData): Int = {
    var i = 0; var j = 0; var c = 0
    val n = x.numElements(); val m = y.numElements()
    while (i < n && j < m) {
      val xv = x.getInt(i); val yv = y.getInt(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }
}

/** Elements of a SORTED-distinct long array that are present in a fixed
  * sorted key set (merge scan, no allocation beyond the result) — the
  * index side of the substring-containment blocker: instead of exploding
  * every k-gram hash of every document (~|corpus|·|text| rows) into a
  * join, each document emits ONLY its matching probe keys (typically a
  * handful), and the join machinery never sees the non-matches.
  */
object KeysInSortedSet {
  /** PRECONDITION: x sorted ascending distinct; keys sorted ascending. */
  def matches(x: ArrayData, keys: Array[Long]): ArrayData = {
    val n = x.numElements()
    var i = 0; var j = 0; var c = 0
    val out = new Array[Long](math.min(n, keys.length))
    while (i < n && j < keys.length) {
      val xv = x.getLong(i); val kv = keys(j)
      if (xv == kv) { out(c) = xv; c += 1; i += 1; j += 1 }
      else if (xv < kv) i += 1
      else j += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
      if (c == out.length) out else java.util.Arrays.copyOf(out, c))
  }

  def apply(c: Column, keys: Array[Long]): Column =
    NativeKernel.call("KeysInSortedSet", this, "matches", Longs, c -> Longs)(keys)
}

object SortedIntersect {

  /** |a ∩ b| of two sorted distinct array<bigint> columns; a wrong element
    * type fails analysis (array<int> elements read as longs would be
    * silent garbage).
    */
  def card(a: Column, b: Column): Column =
    NativeKernel.call("SortedLongIntersectCard", SortedLongIntersectCard, "card", IntegerType,
      a -> Longs, b -> Longs)()

  /** Jaccard over two sorted distinct long arrays: |∩| / |∪| with the exact
    * same integer counts and IEEE division as the array_intersect form.
    */
  def jaccardSorted(a: Column, b: Column): Column = {
    val c = card(a, b)
    val u = size(a) + size(b) - c
    when(a.isNull || b.isNull, lit(null).cast("double"))
      .otherwise(when(u === 0, 1.0).otherwise(c.cast("double") / u))
  }
}
