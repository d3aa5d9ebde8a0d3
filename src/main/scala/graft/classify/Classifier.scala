package graft.classify

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.Classification._

/** Pairwise classification DSL for the catalog rows (`classify_rules`,
  * `refine_clusters`): the reference's ordered rule cascade
  * (bakdata/dedupe `common/dedupe/classifier/RuleBasedClassifier.java:71-381`)
  * re-expressed as a single codegen'd CASE WHEN projection over the pair
  * DataFrame — first rule yielding a non-UNKNOWN result wins (`classify`,
  * :110-129). The flagship's cascade is not built here: it is one kernel,
  * [[Verify]].
  *
  * A rule is a nullable struct column `(classification, confidence,
  * explanation)`; null = rule does not apply (the reference's NaN score).
  * The cascade is `coalesce(rule1, ..., UNKNOWN)`.
  */
object Classifier {

  /** Result-struct builder. Confidence ∈ [0,1]; explanation = rule name
    * (lineage, ref `ClassificationResult.java:36-56`).
    */
  private def result(cls: String, confidence: Column, name: String): Column =
    struct(
      lit(cls).as("classification"),
      confidence.cast("double").as("confidence"),
      lit(name).as("explanation"))

  /** Threshold rule — the reference's `defaultRule`/`scaleAtThreshold`
    * (:186-191, 298-319): sim >= t => DUPLICATE with confidence (s-t)/(1-t);
    * sim < t => NON_DUPLICATE with confidence (t-s)/t; unknown sim => does
    * not apply. The exact confidence arithmetic is preserved for parity.
    */
  def thresholdRule(name: String, sim: Column, t: Double): Column =
    when(sim.isNotNull,
      when(sim >= t, result(Duplicate, (sim - t) / (1 - t), name))
        .otherwise(result(NonDuplicate, (lit(t) - sim) / t, name)))

  /** Positive rule (:204-222): fires only when the measure is positive. */
  def positiveRule(name: String, sim: Column): Column =
    when(sim > 0, result(Duplicate, sim, name))

  /** Possible-duplicate rule: fires as POSSIBLE_DUPLICATE for a downstream
    * policy rewrite (ref `Classification.java:40-47`).
    */
  def possibleRule(name: String, sim: Column): Column =
    when(sim > 0, result(PossibleDuplicate, sim, name))

  /** Ordered cascade: first applicable rule wins; none => UNKNOWN with
    * confidence null (UNKNOWN carries no weight, `Classification.java:54-64`).
    */
  def cascade(rules: Column*): Column =
    coalesce(rules :+ result(Unknown, lit(null), "no rule applied"): _*)

  /** Apply a cascade to a pair DataFrame: appends classification,
    * confidence, explanation columns.
    */
  def classify(pairs: DataFrame, cascadeCol: Column): DataFrame =
    pairs.withColumn("_r", cascadeCol)
      .withColumn("classification", col("_r.classification"))
      .withColumn("confidence", col("_r.confidence"))
      .withColumn("explanation", col("_r.explanation"))
      .drop("_r")

  /** POSSIBLE_DUPLICATE rewrite policy (ref
    * `PossibleDuplicateHandler.java:46-102`): keep / promote to DUPLICATE /
    * demote to NON_DUPLICATE / mark UNKNOWN.
    */
  def handlePossibleDuplicates(scored: DataFrame, policy: String): DataFrame = {
    val target = policy match {
      case "keep" => null
      case "promote" => Duplicate
      case "demote" => NonDuplicate
      case "unknown" => Unknown
      case other => throw new IllegalArgumentException(s"unknown policy: $other")
    }
    if (target == null) scored
    else scored.withColumn("classification",
      when(col("classification") === PossibleDuplicate, target)
        .otherwise(col("classification")))
  }

  /** Oracle classifier (ref `OracleClassifier.java:47-79`): broadcast-join
    * the pairs against a gold pair set, symmetrically doubled exactly as
    * the reference lazily doubles its set (:68-73) so probe orientation
    * never matters; used by recall tests.
    */
  def oracleClassify(pairs: DataFrame, goldPairs: DataFrame): DataFrame = {
    val g0 = goldPairs.select(col("id1"), col("id2"))
    val gold = g0.unionAll(g0.select(col("id2").as("id1"), col("id1").as("id2")))
      .distinct()
      .withColumn("_gold", lit(true))
    pairs.join(broadcast(gold), Seq("id1", "id2"), "left")
      .withColumn("classification",
        when(col("_gold"), Duplicate).otherwise(NonDuplicate))
      .withColumn("confidence", lit(1.0))
      .withColumn("explanation", lit("oracle"))
      .drop("_gold")
  }
}
