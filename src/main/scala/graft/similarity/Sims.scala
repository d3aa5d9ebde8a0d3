package graft.similarity

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level similarity algebra — the codegen'd hot-path form of the
  * reference's `SimilarityMeasure` combinators (SURVEY.md §2.4). A measure
  * is `(Column, Column) => Column` producing a nullable double in [0,1];
  * null = unknown (never NaN in columns — SURVEY.md §1.2).
  *
  * Everything here stays inside whole-stage codegen: built-in functions and
  * CASE WHEN arithmetic only. UDF-backed collection measures live in
  * [[SimUdfs]].
  */
object Sims {

  type CSim = (Column, Column) => Column

  /** Null routing: null input => unknown (null). Built-ins mostly do this
    * already; explicit for measures built from null-tolerant primitives.
    */
  def nullSafe(f: CSim): CSim =
    (l, r) => when(l.isNull || r.isNull, lit(null).cast("double")).otherwise(f(l, r))

  // ------------------------------------------------------------- measures

  /** equals => 1 else 0 (ref `CommonSimilarityMeasures.equality`, :66-78). */
  val equality: CSim = nullSafe((l, r) => (l === r).cast("double"))

  val inequality: CSim = negate(equality)

  /** Normalized Levenshtein over strings: 1 - dist/maxLen; empty-empty = 1.
    * Uses the built-in codegen'd levenshtein (ref advice on threshold
    * pruning, `CommonSimilarityMeasures.java:99-100`, carried by the
    * thresholded overload).
    */
  val levenshteinSim: CSim = nullSafe { (l, r) =>
    val maxLen = greatest(length(l), length(r))
    when(maxLen === 0, 1.0)
      .otherwise(lit(1.0) - levenshtein(l, r).cast("double") / maxLen)
  }

  /** Thresholded Levenshtein: distances above (1-t)*maxLen score 0, with a
    * cheap length-difference prefilter evaluated before the quadratic
    * distance (the ref's pruning advice,
    * `CommonSimilarityMeasures.java:99-100`).
    */
  def levenshteinSim(t: Double): CSim = nullSafe { (l, r) =>
    val maxLen = greatest(length(l), length(r))
    val maxDiff = floor(lit(1.0 - t) * maxLen)
    when(maxLen === 0, 1.0)
      .otherwise(when(abs(length(l) - length(r)) > maxDiff, 0.0)
        .otherwise {
          val d = levenshtein(l, r).cast("double")
          when(d > maxDiff, 0.0).otherwise(lit(1.0) - d / maxLen)
        })
  }

  /** max(0, 1-|Δ|/maxDiff) for numeric columns (ref `scaledDifference`,
    * :369-388); for temporals pass unix_timestamp/datediff columns.
    */
  def scaledDifference(maxDiff: Double): CSim =
    nullSafe((l, r) => greatest(lit(0.0), lit(1.0) - abs(l - r) / maxDiff))

  /** Temporal scaledDifference in DAYS over date/timestamp columns —
    * max(0, 1-|days between|/maxDays), the ChronoUnit.DAYS form of the
    * reference's Temporal overload (`CommonSimilarityMeasures.java:369-373`,
    * used on birthdays in `PersonClassifier.java:54`).
    */
  def scaledDifferenceDays(maxDays: Double): CSim =
    nullSafe((l, r) =>
      greatest(lit(0.0), lit(1.0) - abs(datediff(l, r)).cast("double") / maxDays))

  // ---------------------------------------------------------- combinators
  // Ref: `SimilarityMeasure.java` default methods (SURVEY.md §2.4 table 1).

  def of(f: Column => Column)(s: CSim): CSim = (l, r) => s(f(l), f(r))

  def cutoff(t: Double)(s: CSim): CSim =
    (l, r) => { val v = s(l, r); when(v < t, 0.0).otherwise(v) }

  def scaleWithThreshold(m: Double)(s: CSim): CSim =
    (l, r) => {
      val v = s(l, r)
      when(v > m, (v - m) / (1 - m)).otherwise(when(v.isNotNull, 0.0))
    }

  def binarize(s: CSim): CSim =
    (l, r) => { val v = s(l, r); when(v > 0, 1.0).otherwise(when(v.isNotNull, 0.0)) }

  def negate(s: CSim): CSim = (l, r) => lit(1.0) - s(l, r)

  def unknownIf(p: Column => Column)(s: CSim): CSim =
    (l, r) => { val v = s(l, r); when(p(v), lit(null).cast("double")).otherwise(v) }

  def unknownIfZero(s: CSim): CSim = unknownIf(_ === 0.0)(s)

  // aggregations over measures: unknowns (nulls) are skipped; all-unknown
  // => unknown. greatest/least already ignore nulls.
  def maxOf(ss: CSim*): CSim = (l, r) => greatest(ss.map(_(l, r)): _*)
  def minOf(ss: CSim*): CSim = (l, r) => least(ss.map(_(l, r)): _*)
}
