package graft.classify

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{col, struct}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{NativeKernel, SortedIntIntersectCard}
import graft.model.Classification._
import graft.model.DedupConfig

/** The flagship's pairwise verify decision, written once: the reference's
  * ordered rule cascade (`RuleBasedClassifier.java:71-381`, first decisive
  * rule wins) as one static method. `Pipeline.classified` calls it through
  * one [[NativeKernel]] column ([[apply]]); `Pipeline.refine` scores its
  * missing pairs with it, the reference's same-classifier re-scoring
  * (`RefineClusterImpl.java:340-350`).
  *
  * Each side is an [[InputType]] row `(chash, norm, shs, phash, simhash)`;
  * a null field is an unknown measure. Rules, in order:
  *  1. both `chash` known and equal => DUPLICATE @ 1.0, `exact-bytes`;
  *  2. both `norm` known, the shorter (ties go to `a`) at least `shingleK`
  *     code points long and contained in the other => DUPLICATE @ 0.95,
  *     `substring`;
  *  3. shingle Jaccard, phash and simhash Hamming similarity all known and
  *     below 0.05, 0.7 and 0.7 => NON_DUPLICATE @ 1.0, `disjoint`;
  *  4. `s` = the average of the known measures weighted 2, 1, 1 (summed in
  *     that order) at threshold `t`: `s >= t` => DUPLICATE @ (s-t)/(1-t),
  *     else NON_DUPLICATE @ (t-s)/t, `weighted-default` (ref
  *     `scaleAtThreshold`, :298-319; shape of `PersonClassifier.java:43-57`);
  *     no known measure => UNKNOWN @ 0.0, `no rule applied`.
  */
object Verify {

  /** One side of a pair: the feature columns verify reads. */
  val InputType: StructType = new StructType().add("chash", StringType).add("norm", StringType)
    .add("shs", NativeKernel.Ints).add("phash", LongType).add("simhash", LongType)

  val ResultType: StructType = new StructType().add("classification", StringType, nullable = false)
    .add("confidence", DoubleType, nullable = false).add("explanation", StringType, nullable = false)

  /** The [[InputType]] struct over a feature frame's columns. */
  def features: Column = struct(InputType.fieldNames.toSeq.map(col): _*)

  /** The [[ResultType]] verdict of two [[features]] columns. */
  def apply(a: Column, b: Column, cfg: DedupConfig): Column =
    NativeKernel.call("Verify", this, "classify", ResultType, a -> InputType, b -> InputType)(
      cfg.shingleK, cfg.simhashBits, cfg.jaccardThreshold)

  /** An [[InputType]] row as an encoder decodes it (refine's payload); `row` converts it back. */
  final case class Feat(chash: String, norm: String, shs: Array[Int],
                        phash: java.lang.Long, simhash: java.lang.Long) {
    @transient lazy val row: InternalRow = InternalRow(UTF8String.fromString(chash),
      UTF8String.fromString(norm), if (shs == null) null else ArrayData.toArrayData(shs),
      phash, simhash)
  }

  private def verdict(cls: String, confidence: Double, rule: String): InternalRow =
    InternalRow(UTF8String.fromString(cls), confidence, UTF8String.fromString(rule))
  private val ExactBytes = verdict(Duplicate, 1.0, "exact-bytes")
  private val Substring = verdict(Duplicate, 0.95, "substring")
  private val Disjoint = verdict(NonDuplicate, 1.0, "disjoint")
  private val NoRule = verdict(Unknown, 0.0, "no rule applied")
  private val Dup = UTF8String.fromString(Duplicate)
  private val NonDup = UTF8String.fromString(NonDuplicate)
  private val Weighted = UTF8String.fromString("weighted-default")

  /** The cascade over two [[InputType]] rows, as a [[ResultType]] row. An
    * unknown measure is NaN here, so every comparison with it is false.
    */
  def classify(a: InternalRow, b: InternalRow, shingleK: Int, simhashBits: Int,
               t: Double): InternalRow = {
    def known(i: Int) = !a.isNullAt(i) && !b.isNullAt(i)
    def hammingSim(i: Int, bits: Int) = if (!known(i)) Double.NaN
      else 1.0 - java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i)).toDouble / bits
    if (known(0) && a.getUTF8String(0) == b.getUTF8String(0)) return ExactBytes
    if (known(1)) {
      val na = a.getUTF8String(1); val nb = b.getUTF8String(1)
      val la = na.numChars; val lb = nb.numChars
      if (if (la <= lb) la >= shingleK && nb.contains(na) else lb >= shingleK && na.contains(nb))
        return Substring
    }
    val jac = if (!known(2)) Double.NaN else {
      val x = a.getArray(2); val y = b.getArray(2)
      val c = SortedIntIntersectCard.card(x, y)
      val u = x.numElements + y.numElements - c
      if (u == 0) 1.0 else c.toDouble / u
    }
    val ph = hammingSim(3, 64)
    val sh = hammingSim(4, simhashBits)
    if (jac < 0.05 && ph < 0.7 && sh < 0.7) return Disjoint
    var num = 0.0
    var den = 0.0
    if (!jac.isNaN) { num += jac * 2; den += 2 }
    if (!ph.isNaN) { num += ph; den += 1 }
    if (!sh.isNaN) { num += sh; den += 1 }
    if (den == 0) return NoRule
    val s = num / den
    if (s >= t) InternalRow(Dup, (s - t) / (1 - t), Weighted) else InternalRow(NonDup, (t - s) / t, Weighted)
  }
}
