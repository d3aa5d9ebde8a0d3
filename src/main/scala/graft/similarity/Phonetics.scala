package graft.similarity

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Phonetic codec transforms (ref `CommonTransformations.java:74-139`):
  * soundex is a Spark built-in; cologne / beider-morse wrap commons-codec
  * (already on the Spark classpath). Each returns the encoded string;
  * equality of encodings is the phonetic similarity
  * (`equality.of(soundex())` composition in the reference).
  */
object Phonetics {

  val cologne: Column => Column = {
    val f = udf((s: String) =>
      if (s == null) null
      else new org.apache.commons.codec.language.ColognePhonetic().encode(s))
    c => f(c)
  }

  val beiderMorse: Column => Column = {
    val f = udf((s: String) =>
      if (s == null) null
      else new org.apache.commons.codec.language.bm.BeiderMorseEncoder().encode(s))
    c => f(c)
  }

  /** Phonetic equality measure: encodings equal => 1.0 (the reference's
    * `equality().of(beiderMorse())` composition, `PersonClassifier.java:50`).
    */
  def phoneticEq(codec: Column => Column): Sims.CSim =
    Sims.of(codec)(Sims.equality)

  /** Generic wrapper for ANY commons-codec StringEncoder (ref
    * `CommonTransformations.codec`, `CommonTransformations.java:131-139`) —
    * the two named codecs above are instances of this.
    */
  def codec(enc: () => org.apache.commons.codec.StringEncoder): Column => Column = {
    val f = udf((s: String) => if (s == null) null else enc().encode(s).toString)
    c => f(c)
  }
}
