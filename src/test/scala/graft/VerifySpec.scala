package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.app.Pipeline
import graft.classify.Verify
import graft.classify.Verify.Feat
import graft.model.DedupConfig

/** The flagship's verify cascade, one row per rule and per null case. The
  * expected (classification, confidence, rule) triples are the ones the
  * Classifier-DSL form of the cascade produced on the same rows, confidence
  * bits included; both the direct call and `Pipeline.classified` must
  * reproduce them.
  */
class VerifySpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("verify-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val cfg = DedupConfig()
  private val m60 = (1L << 60) - 1

  private def f(chash: String, norm: String, shs: Seq[Int], phash: java.lang.Long,
                simhash: java.lang.Long): Feat =
    Feat(chash, norm, if (shs == null) null else shs.toArray, phash, simhash)

  private val D = "DUPLICATE"
  private val N = "NON_DUPLICATE"

  private val cases: Seq[(String, Feat, Feat, (String, Double, String))] = Seq(
    ("exact-bytes", f("h1", "red car", Seq(1, 2, 3), 0L, 0L),
      f("h1", "blue boat", Seq(7, 8), -1L, m60), (D, 1.0, "exact-bytes")),
    ("chash null on a", f(null, "a photo of a dog", Seq(1, 2, 3, 4), 5L, 9L),
      f("h2", "a photo of a dog", Seq(1, 2, 3, 4), 5L, 9L), (D, 0.95, "substring")),
    ("chash null on both", f(null, "alpha beta", Seq(1, 2), 0L, 0L),
      f(null, "gamma delta", Seq(3, 4), -1L, m60), (N, 1.0, "disjoint")),
    ("a contained in b", f("x1", "dog on", Seq(10, 11), 1L, 2L),
      f("x2", "a dog on a mat", Seq(10, 11, 12, 13), 100L, 200L), (D, 0.95, "substring")),
    ("b contained in a", f("x3", "a dog on a mat", Seq(10, 11, 12, 13), 100L, 200L),
      f("x4", "dog on", Seq(10, 11), 1L, 2L), (D, 0.95, "substring")),
    ("contained at exactly shingleK", f("x5", "cat s", Seq(20), 0L, 0L),
      f("x6", "the cat sat", Seq(20, 21, 22), -1L, m60), (D, 0.95, "substring")),
    ("contained below shingleK", f("x7", "cat ", Seq(20), 0L, 0L),
      f("x8", "the cat sat", Seq(20, 21, 22), -1L, m60), (N, 0.7916666666666667, "weighted-default")),
    ("contained at shingleK code points", f("u1", "ñandú", Seq(30), 0L, 0L),
      f("u2", "el ñandú corre", Seq(30, 31), -1L, m60), (D, 0.95, "substring")),
    ("contained below shingleK code points, above in bytes", f("u3", "ñañá", Seq(40), 0L, 0L),
      f("u4", "un ñañá", 40 to 60, -1L, m60), (N, 1.0, "disjoint")),
    ("equal length, neither contained", f("e1", "abcdef", Seq(1, 2), 7L, 7L),
      f("e2", "bcdefg", Seq(2, 3), 7L, 7L), (N, 0.16666666666666677, "weighted-default")),
    ("disjoint near miss: phash close", f("d1", "one two", Seq(1, 2), 0L, 0L),
      f("d2", "three four", Seq(3, 4), 1L, m60), (N, 0.6923828125, "weighted-default")),
    ("weighted duplicate", f("w1", "a cat on a mat", 1 to 10, 0xF0L, 0x7L),
      f("w2", "a cat on the mat", (1 to 9) :+ 11, 0xF3L, 0x0L),
      (D, 0.44389204545454597, "weighted-default")),
    ("weighted non-duplicate", f("w3", "a cat on a mat", 1 to 10, 0xF0L, 0x7L),
      f("w4", "the cat is on a rug", 6 to 15, 0xFFFFL, 0xFFFL),
      (N, 0.27213541666666674, "weighted-default")),
    ("caption null on a", f("n1", null, null, 0xFFL, null),
      f("n2", "some caption", Seq(1, 2, 3), 0xF0L, 77L), (D, 0.6874999999999999, "weighted-default")),
    ("caption null on both", f("n3", null, null, 0L, null),
      f("n4", null, null, 0xFFFFFL, null), (N, 0.14062500000000006, "weighted-default")),
    ("empty caption on both", f("m1", "", Seq(), 3L, 0L),
      f("m2", "", Seq(), 3L, 0L), (D, 1.0, "weighted-default")),
    ("empty shs on a", f("m3", "", Seq(), 0L, 0L),
      f("m4", "a long caption", Seq(1, 2, 3), -1L, m60), (N, 1.0, "disjoint")),
    ("no measure known", f("z1", null, null, null, null),
      f("z2", null, null, null, null), ("UNKNOWN", 0.0, "no rule applied")),
    ("jaccard unknown, hashes far", f("j1", "xy", null, 0L, 0L),
      f("j2", "zw", Seq(1), -1L, m60), (N, 1.0, "weighted-default")))

  test("every rule and null case gives its triple, confidence bits included") {
    assert(cases.map(_._4._3).toSet ==
      Set("exact-bytes", "substring", "disjoint", "weighted-default", "no rule applied"))
    cases.foreach { case (name, a, b, want) =>
      val r = Verify.classify(a.row, b.row, cfg.shingleK, cfg.simhashBits, cfg.jaccardThreshold)
      val got = (r.getUTF8String(0).toString, r.getDouble(1), r.getUTF8String(2).toString)
      assert(got == want, name)
    }
  }

  test("Pipeline.classified gives the same triples through the kernel column") {
    val s = spark
    import s.implicits._
    val sides = cases.zipWithIndex.flatMap { case ((_, a, b, _), i) =>
      Seq((f"$i%02da", a), (f"$i%02db", b))
    }
    // an RDD-backed frame, so the verify projection runs in generated code
    val feats = spark.createDataset(spark.sparkContext.parallelize(sides, 2)).toDF("id", "f")
      .select(col("id"), col("f.*"))
    val cands = cases.indices.map(i => (f"$i%02da", f"$i%02db")).toDF("id1", "id2")
    val got = Pipeline.classified(feats, cands, cfg).collect().sortBy(_.id1)
      .map(e => (e.classification, e.confidence, e.explanation)).toSeq
    assert(got == cases.map(_._4))
  }
}
