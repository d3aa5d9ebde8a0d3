package graft

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, GraftColumnBridge, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.classify.Verify
import graft.functions._
import graft.model.DedupConfig
import graft.sig.Signatures

/** Every row kernel through its one Column constructor: the generated-code
  * and the interpreted path of [[NativeKernel]] agree row for row, a null
  * child gives a null result on both, and a wrong input type fails analysis
  * naming the expected type.
  */
class NativeKernelSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("native-kernel-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val dim = 8
  private val cfg = DedupConfig(numHashes = 16, bands = 4)
  private val cents = Array.tabulate(3, dim)((c, d) => math.sin(c * 1.7 + d * 0.3))
  private val cb = Array.tabulate(2, 3, dim / 2)((j, c, e) => math.cos(j + c * 0.9 + e * 0.4))
  private val sqMins = Array.fill(dim)(-1.0)
  private val sqMaxs = Array.tabulate(dim)(d => if (d == 3) -1.0 else 1.0)
  private val probeKeys = Array(2L, 5L, 9L, 40L)
  private val bloomM = 1024
  private val bloomBits = Array.tabulate(bloomM / 64)(i => 0x5555555555555555L >>> (i % 3))

  /** A verify side under other field names and with nullable fields, as a
    * parquet read gives it; `fbad` carries array<bigint> shingles.
    */
  private def side(shs: DataType) = StructType(Seq(StructField("c", StringType),
    StructField("n", StringType), StructField("s", shs), StructField("p", LongType),
    StructField("q", LongType)))

  /** One input row per `i`; columns carrying a "2" or a "b" are a kernel's
    * second child. Row 5 nulls every first child, row 6 every second child;
    * a struct child is never null, so there every field of it is null.
    */
  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("s", StringType),
    StructField("raw", StringType),
    StructField("h", LongType),
    StructField("h2", LongType),
    StructField("longs", ArrayType(LongType)),
    StructField("longs2", ArrayType(LongType)),
    StructField("ints", ArrayType(IntegerType)),
    StructField("ints2", ArrayType(IntegerType)),
    StructField("sig", ArrayType(LongType)),
    StructField("floats", ArrayType(FloatType)),
    StructField("floats2", ArrayType(FloatType)),
    StructField("doubles", ArrayType(DoubleType)),
    StructField("codes", ArrayType(IntegerType)),
    StructField("fa", side(ArrayType(IntegerType))),
    StructField("fb", side(ArrayType(IntegerType))),
    StructField("fbad", side(ArrayType(LongType)))))

  private def input: DataFrame = {
    val texts = Seq("", "a", "abcdefgh", "the quick brown fox jumps over the lazy dog",
      "caption of image 00042 with numbers 12345")
    val rows = texts.zipWithIndex.map { case (t, i) =>
      val longs = (0 until 3 + i).map(j => (j * j + i).toLong).distinct.sorted
      Row(i, t, s"Héllo (x) Wörld $i!", (i + 1) * 0x0123456789AL, (i + 3) * 0x00FEDCBA98L,
        longs, (0 until 4).map(j => (2 * j + i).toLong),
        longs.map(_.toInt), (0 until 4).map(j => 3 * j),
        (0 until 16).map(j => (j * 31 + i).toLong),
        (0 until dim).map(d => (math.sin(i + d) + 0.1).toFloat),
        (0 until dim).map(d => (math.cos(i * d) + 0.2).toFloat),
        (0 until dim).map(d => math.sin(i * 2 + d) / 2),
        Seq(i % 3, (i + 1) % 3),
        Row(s"c${i % 2}", t, longs.map(_.toInt), (i + 1) * 0x0123456789AL, i.toLong),
        Row("c0", texts((i + 2) % 5), Seq(1, 2, i), 0x0123456789AL, 3L),
        Row("c0", t, longs, 0L, 0L))
    }
    val nullSide = Row(null, null, null, null, null)
    val firstNull = Row(5, null, null, null, 7L, null, Seq(1L), null, Seq(1), null, null,
      Seq.fill(dim)(1.0f), null, Seq(0, 1), nullSide, Row("c0", "abc", Seq(1), 7L, 7L), nullSide)
    val secondNull = Row(6, "abc", "abc", 7L, null, Seq(1L), null, Seq(1), null,
      Seq.fill(16)(1L), Seq.fill(dim)(1.0f), null, Seq.fill(dim)(0.5), null,
      Row("c0", "abc", Seq(1), 7L, 7L), nullSide, nullSide)
    // an RDD-backed frame: a local relation would be folded by the
    // optimizer and never reach the generated code
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows :+ firstNull :+ secondNull, 2), schema)
  }

  private case class Kernel(name: String, args: Seq[String], build: Seq[Column] => Column)

  private val kernels = Seq(
    Kernel("MinHashFromHashes", Seq("longs"), c => Signatures.minHashFromHashesCol(c(0), cfg)),
    Kernel("MinHashFromIntHashes", Seq("ints"), c => Signatures.minHashFromIntHashesCol(c(0), cfg)),
    Kernel("BandKeyStrings", Seq("sig"), c => Signatures.bandKeysCol(c(0), 4)),
    Kernel("BandHashKeys", Seq("sig"), c => Signatures.bandHashKeysCol(c(0), 4)),
    Kernel("BitBlockKeyStrings", Seq("h"), c => Signatures.bitBlockKeysCol(c(0), 3, 60)),
    Kernel("HashedShingles", Seq("s"), c => Signatures.hashedShinglesCol(c(0), 5)),
    Kernel("HashedShingles32", Seq("s"), c => Signatures.hashedShingles32Col(c(0), 5)),
    Kernel("Hash60Shingles", Seq("s"), c => Signatures.hash60ShinglesCol(c(0), 5)),
    Kernel("SimHashWords", Seq("s"), c => Signatures.simHashWordsCol(c(0), 60)),
    Kernel("SimHashWords", Seq("s"), c => Signatures.simHashFastCol(c(0), 60)),
    Kernel("NormalizeText", Seq("raw"), c => Signatures.normalizeCol(c(0))),
    Kernel("CdcChunks", Seq("s"), c => SigExprs.cdcChunks(c(0), 4, 8)),
    Kernel("WinnowKeys", Seq("s"), c => SigExprs.winnowKeys(c(0), 4, 3)),
    Kernel("WinnowFphs", Seq("s"), c => SigExprs.winnowFphs(c(0), 4, 3)),
    Kernel("JoinLongsCsv", Seq("longs"), c => SigExprs.joinLongsCsv(c(0))),
    Kernel("SrpSignature", Seq("floats"), c => SrpSignature(c(0), 16, dim, 7L)),
    Kernel("IvfCells", Seq("floats"), c => IvfCells(c(0), cents, 2)),
    Kernel("IvfBestScore", Seq("floats"), c => IvfBestScore(c(0), cents)),
    Kernel("NormalizeFloats", Seq("floats"), c => NormalizeFloats(c(0))),
    Kernel("PqEncode", Seq("doubles"), c => PqEncode(c(0), cb)),
    Kernel("PqAdcDist", Seq("doubles", "codes"), c => PqAdcDist(c(0), c(1), cb)),
    Kernel("SqEncode", Seq("doubles"), c => SqEncode(c(0), sqMins, sqMaxs)),
    Kernel("SortedLongIntersectCard", Seq("longs", "longs2"), c => SortedIntersect.card(c(0), c(1))),
    Kernel("Verify", Seq("fa", "fb"), c => Verify(c(0), c(1), cfg)),
    Kernel("KeysInSortedSet", Seq("longs"), c => KeysInSortedSet(c(0), probeKeys)),
    Kernel("FloatDotProduct", Seq("floats", "floats2"), c => FloatDotProduct(c(0), c(1))),
    Kernel("LongSqL2", Seq("longs", "longs2"), c => LongSqL2(c(0), c(1))),
    Kernel("BloomContains", Seq("h", "h2"), c => Bloom.containsCol(c(0), c(1), bloomBits, bloomM, 3)))

  /** A column of another type for each input type, for the type check. */
  private val wrongTypeCol = Map(
    "string" -> "h", "bigint" -> "s", "array<bigint>" -> "ints", "array<int>" -> "longs",
    "array<float>" -> "doubles", "array<double>" -> "floats",
    Verify.InputType.simpleString -> "fbad")

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("every kernel: generated code equals interpreted eval, nulls propagate, wrong types fail analysis") {
    assert(kernels.map(_.name).distinct.size == 27)
    val df = input
    kernels.foreach { k =>
      val out = k.build(k.args.map(col))
      val expr = GraftColumnBridge.expression(out).asInstanceOf[NativeKernel]
      assert(expr.name == k.name)
      def run(): Seq[Row] =
        df.select((col("id") +: out.as("out") +: k.args.map(col)): _*).collect().sortBy(_.getInt(0)).toSeq
      val generated = withConf("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
          "spark.sql.codegen.fallback" -> "false") {
        val plan = df.select(out).queryExecution.executedPlan
        assert(org.apache.spark.sql.execution.debug.codegenString(plan)
          .contains(s"${expr.owner}.${expr.method}("), s"${k.name}: kernel call not in generated code")
        run()
      }
      val interpreted = withConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
          "spark.sql.codegen.wholeStage" -> "false")(run())
      assert(generated == interpreted, s"${k.name}: generated vs interpreted")
      generated.foreach { r =>
        val anyNullChild = (2 until r.length).exists(r.isNullAt)
        assert(r.isNullAt(1) == anyNullChild, s"${k.name}: null result iff a null child, row $r")
      }
      assert(generated.exists(!_.isNullAt(1)), s"${k.name}: no non-null row")

      val want = expr.inputTypes.head.simpleString
      val wrong = k.build(col(wrongTypeCol(want)) +: k.args.tail.map(col))
      val err = intercept[AnalysisException](df.select(wrong))
      assert(err.getMessage.contains(s"requires $want"), s"${k.name}: ${err.getMessage}")
    }
  }
}
