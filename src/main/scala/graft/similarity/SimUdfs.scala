package graft.similarity

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

import graft.similarity.ScalarSims._

/** UDF bridges from the Scala-level [[ScalarSims]] to Columns, for the
  * collection-valued measures that have no Catalyst primitive (Monge-Elkan,
  * Jaro-Winkler, histogram cosine). NaN-unknown becomes null at this
  * boundary (SURVEY.md §1.2).
  *
  * These evaluate per-row over small bags — the reference invokes the same
  * sequential algorithms per candidate pair (`MongeElkan.java:53-94`,
  * `MatchingSimilarity.java:45-83`); distribution comes from the pair
  * Dataset, not from inside the measure.
  */
object SimUdfs {

  private def lift(v: Double): Option[Double] = if (v.isNaN) None else Some(v)

  def jaroWinklerCol(boostThreshold: Double = 0.7): (Column, Column) => Column = {
    val s = nullSafe(jaroWinkler(boostThreshold))
    val f = udf((l: String, r: String) => lift(s(l, r)))
    (l, r) => f(l, r)
  }

  /** Monge-Elkan over token arrays with inner normalized Levenshtein. */
  def mongeElkanLevCol(maxPositionDiff: Int = Int.MaxValue): (Column, Column) => Column = {
    val inner: Sim[String] = nullSafe(levenshtein())
    val s = mongeElkan(inner, maxPositionDiff)
    val f = udf((l: Seq[String], r: Seq[String]) =>
      if (l == null || r == null) None else lift(s(l, r)))
    (l, r) => f(l, r)
  }

  /** Histogram cosine over token arrays (ref `CosineSimilarityMeasure`). */
  val cosineBagCol: (Column, Column) => Column = {
    val s = cosineBag[String]
    val f = udf((l: Seq[String], r: Seq[String]) =>
      if (l == null || r == null) None else lift(s(l, r)))
    (l, r) => f(l, r)
  }
}
