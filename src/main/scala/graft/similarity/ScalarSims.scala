package graft.similarity

import graft.matching.StableMarriage
import graft.matching.StableMarriage.E

/** Scala-level similarity measures over values, mirroring the reference's
  * `SimilarityMeasure<T>` algebra (bakdata/dedupe
  * `core/dedupe/similarity/SimilarityMeasure.java`,
  * `common/dedupe/similarity/CommonSimilarityMeasures.java`).
  *
  * Unknown is encoded as Double.NaN *inside this layer only* — identical to
  * the reference's protocol (`SimilarityMeasure.java:52-65`) so its truth
  * tables port directly; the Column boundary converts NaN to null
  * (SURVEY.md §1.2).
  *
  * These run executor-local inside UDFs for collection-valued comparisons
  * (mongeElkan, stable matching, cosine); plain scalar comparisons use the
  * codegen'd Column layer in [[Sims]] instead.
  */
object ScalarSims {

  type Sim[T] = (T, T) => Double

  val Unknown: Double = Double.NaN
  @inline def isUnknown(d: Double): Boolean = d.isNaN

  /** Null routing: null on either side => unknown (the reference's default
    * `SimilarityContext.getSimilarityForNull`, :38-57).
    */
  def nullSafe[T <: AnyRef](f: Sim[T]): Sim[T] =
    (l, r) => if (l == null || r == null) Unknown else f(l, r)

  // ------------------------------------------------------------- measures

  def equality[T]: Sim[T] = (l, r) => if (l == r) 1.0 else 0.0

  def inequality[T]: Sim[T] = negate(equality)

  /** Normalized Levenshtein: 1 - dist/maxLen, with threshold pruning — a
    * max distance above which the result is 0 without full evaluation
    * (ref `Levenshtein.java:44-76`: commons LevenshteinDistance(maxDiff),
    * dist=-1 => 0).
    */
  def levenshtein(threshold: Double = 0.0): Sim[String] = (l, r) => {
    val maxLen = math.max(l.length, r.length)
    if (maxLen == 0) 1.0
    else {
      val maxDiff = math.floor((1 - threshold) * maxLen).toInt
      if (math.abs(l.length - r.length) > maxDiff) 0.0
      else {
        val d = levenshteinDistance(l, r, maxDiff)
        if (d < 0) 0.0 else 1.0 - d.toDouble / maxLen
      }
    }
  }

  /** Banded Levenshtein distance; returns -1 if distance exceeds maxDiff. */
  def levenshteinDistance(a: String, b: String, maxDiff: Int): Int = {
    val n = a.length; val m = b.length
    if (math.abs(n - m) > maxDiff) return -1
    var prev = Array.tabulate(m + 1)(identity)
    var cur = new Array[Int](m + 1)
    var i = 1
    while (i <= n) {
      cur(0) = i
      var rowMin = cur(0)
      var j = 1
      while (j <= m) {
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        if (cur(j) < rowMin) rowMin = cur(j)
        j += 1
      }
      if (rowMin > maxDiff) return -1
      val t = prev; prev = cur; cur = t
      i += 1
    }
    if (prev(m) > maxDiff) -1 else prev(m)
  }

  /** Jaro similarity (match window floor(max/2)-1, transposition halves). */
  def jaro: Sim[String] = (s1, s2) => {
    if (s1.isEmpty && s2.isEmpty) 1.0
    else if (s1.isEmpty || s2.isEmpty) 0.0
    else {
      val window = math.max(math.max(s1.length, s2.length) / 2 - 1, 0)
      val m2 = new Array[Boolean](s2.length)
      val m1 = new Array[Boolean](s1.length)
      var matches = 0
      var i = 0
      while (i < s1.length) {
        val lo = math.max(0, i - window); val hi = math.min(s2.length - 1, i + window)
        var j = lo
        var done = false
        while (j <= hi && !done) {
          if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
            m1(i) = true; m2(j) = true; matches += 1; done = true
          }
          j += 1
        }
        i += 1
      }
      if (matches == 0) 0.0
      else {
        var t = 0; var k = 0
        i = 0
        while (i < s1.length) {
          if (m1(i)) {
            while (!m2(k)) k += 1
            if (s1.charAt(i) != s2.charAt(k)) t += 1
            k += 1
          }
          i += 1
        }
        val m = matches.toDouble
        (m / s1.length + m / s2.length + (m - t / 2.0) / m) / 3.0
      }
    }
  }

  /** Jaro-Winkler: jaro plus common-prefix bonus p=0.1 (prefix capped at 4)
    * applied when jaro exceeds `boostThreshold`. boostThreshold=0.7 is the
    * canonical Winkler definition (and DuckDB's); the reference's
    * commons-text dependency applies the bonus unconditionally
    * (boostThreshold=0.0) — both behaviors are exposed.
    */
  def jaroWinkler(boostThreshold: Double = 0.7): Sim[String] = (s1, s2) => {
    val j = jaro(s1, s2)
    if (j <= boostThreshold) j
    else {
      var p = 0
      val maxP = math.min(4, math.min(s1.length, s2.length))
      while (p < maxP && s1.charAt(p) == s2.charAt(p)) p += 1
      j + p * 0.1 * (1.0 - j)
    }
  }

  /** Set Jaccard (ref `CommonSimilarityMeasures.jaccard`, :88-93). */
  def jaccard[T]: Sim[Seq[T]] = (l, r) => {
    val ls = l.toSet; val rs = r.toSet
    val u = (ls ++ rs).size
    if (u == 0) 1.0 else (ls & rs).size.toDouble / u
  }

  /** Histogram (count-vector) cosine over token bags
    * (ref `CosineSimilarityMeasure.java:42-66`).
    */
  def cosineBag[T]: Sim[Seq[T]] = (l, r) => {
    if (l.isEmpty && r.isEmpty) 1.0
    else if (l.isEmpty || r.isEmpty) 0.0
    else {
      val cl = l.groupBy(identity).map { case (k, v) => k -> v.size }
      val cr = r.groupBy(identity).map { case (k, v) => k -> v.size }
      val dot = cl.iterator.map { case (k, c) => c.toLong * cr.getOrElse(k, 0) }.sum
      val nl = math.sqrt(cl.values.iterator.map(c => c.toLong * c).sum.toDouble)
      val nr = math.sqrt(cr.values.iterator.map(c => c.toLong * c).sum.toDouble)
      dot / (nl * nr)
    }
  }

  /** Monge-Elkan: mean over left elements of the max inner similarity
    * against right elements within +-maxPositionDiff positions
    * (ref `MongeElkan.java:53-94`; maxPositionDiff=MaxValue = unrestricted,
    * =0 gives positionWise/zip semantics,
    * `CommonSimilarityMeasures.java:275-278`).
    */
  def mongeElkan[T](inner: Sim[T], maxPositionDiff: Int = Int.MaxValue): Sim[Seq[T]] =
    (l, r) => {
      if (l.isEmpty || r.isEmpty) { if (l.isEmpty && r.isEmpty) 1.0 else 0.0 }
      else {
        var sum = 0.0; var n = 0
        var i = 0
        while (i < l.length) {
          // long arithmetic: i + maxPositionDiff overflows Int for any large
          // finite maxPositionDiff, silently emptying the window
          val lo = math.max(0L, i.toLong - maxPositionDiff).toInt
          val hi = math.min(r.length - 1L, i.toLong + maxPositionDiff).toInt
          var best = Double.NegativeInfinity
          var j = lo
          while (j <= hi && j < r.length) {
            val s = inner(l(i), r(j))
            if (!isUnknown(s) && s > best) best = s
            j += 1
          }
          if (best != Double.NegativeInfinity) { sum += best; n += 1 }
          i += 1
        }
        if (n == 0) Unknown else sum / n
      }
    }

  def positionWise[T](inner: Sim[T]): Sim[Seq[T]] = mongeElkan(inner, 0)

  /** Stable-matching collection similarity: weakly-stable matching of the
    * two bags by pairwise inner similarity; result = Σ matched weight /
    * max(|L|, |R|) (ref `MatchingSimilarity.java:45-83`; note the
    * reference's `matching()` always uses the weak matcher, :211-215).
    */
  def stableMatching[T](inner: Sim[T]): Sim[Seq[T]] = (l, r) => {
    if (l.isEmpty || r.isEmpty) { if (l.isEmpty && r.isEmpty) 1.0 else 0.0 }
    else {
      val edges = for {
        i <- l.indices; j <- r.indices
        w = inner(l(i), r(j)) if !isUnknown(w) && w > 0
      } yield E(i, j, w)
      StableMarriage.matchedWeight(l.length, r.length, edges) / math.max(l.length, r.length)
    }
  }

  /** max(0, 1 - |l-r|/maxDiff) for numbers/temporals
    * (ref `CommonSimilarityMeasures.scaledDifference`, :369-388).
    */
  def scaledDifference(maxDiff: Double): Sim[Double] =
    (l, r) => math.max(0.0, 1.0 - math.abs(l - r) / maxDiff)

  // ---------------------------------------------------------- combinators

  def of[T, U](f: U => T)(s: Sim[T]): Sim[U] = (l, r) => s(f(l), f(r))

  /** s < t => 0 (ref `CutoffSimiliarityMeasure.java:38-75`). */
  def cutoff[T](t: Double)(s: Sim[T]): Sim[T] =
    (l, r) => { val v = s(l, r); if (!isUnknown(v) && v < t) 0.0 else v }

  /** Rescale (m,1] -> (0,1], <=m -> 0 (ref `scaleWithThreshold`, :160-167). */
  def scaleWithThreshold[T](m: Double)(s: Sim[T]): Sim[T] =
    (l, r) => { val v = s(l, r); if (isUnknown(v)) v else if (v > m) (v - m) / (1 - m) else 0.0 }

  def binarize[T](s: Sim[T]): Sim[T] =
    (l, r) => { val v = s(l, r); if (isUnknown(v)) v else if (v > 0) 1.0 else 0.0 }

  def negate[T](s: Sim[T]): Sim[T] =
    (l, r) => { val v = s(l, r); if (isUnknown(v)) v else 1.0 - v }

  def unknownIf[T](p: Double => Boolean)(s: Sim[T]): Sim[T] =
    (l, r) => { val v = s(l, r); if (!isUnknown(v) && p(v)) Unknown else v }

  def unknownIfZero[T](s: Sim[T]): Sim[T] = unknownIf[T](_ == 0.0)(s)

  /** Aggregations over measures skip unknowns; all-unknown => unknown
    * (ref `AggregatingSimilarityMeasure.java:43-92`,
    * `WeightedAggregatingSimilarityMeasure.java:39-96`).
    */
  def maxOf[T](ss: Sim[T]*): Sim[T] = aggregate(ss, _.max)
  def minOf[T](ss: Sim[T]*): Sim[T] = aggregate(ss, _.min)
  def firstOf[T](ss: Sim[T]*): Sim[T] = aggregate(ss, _.head)

  def weightedAverage[T](ws: Seq[(Double, Sim[T])]): Sim[T] = (l, r) => {
    var num = 0.0; var den = 0.0
    ws.foreach { case (w, s) =>
      val v = s(l, r)
      if (!isUnknown(v)) { num += w * v; den += w }
    }
    if (den == 0.0) Unknown else num / den
  }

  private def aggregate[T](ss: Seq[Sim[T]], f: Seq[Double] => Double): Sim[T] =
    (l, r) => {
      val vs = ss.map(_(l, r)).filterNot(isUnknown)
      if (vs.isEmpty) Unknown else f(vs)
    }
}
