package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.DedupConfig
import graft.sig.Signatures

/** Equivalence gates for the native Catalyst signature kernels
  * (graft.functions.SigExprs): each expression must produce EXACTLY the
  * values of its pure-Scala mirror in [[Signatures]] — the mirrors are what
  * the reference-fixture unit tests and the in-memory pipeline oracle run,
  * and what the DuckDB oracle SQL reproduces, so byte-for-byte equality
  * here is what keeps every CORRECTNESS hash unchanged after the UDF→native
  * swap.
  */
class SigExprsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("sigexprs-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // edge cases the byte-window kernels must honor: empty string (no tokens,
  // whole-string shingle), shorter-than-k, exactly-k, repeated shingles
  // (distinctness), multi-token, single char, long mixed strings
  private val inputs = Seq(
    "",
    "a",
    "abcd",
    "abcde",
    "abcdef",
    "aaaaaaaaaa",
    "the quick brown fox jumps over the lazy dog",
    "caption of image 00042 with numbers 12345",
    "x y",
    "aba ba ab aba",
    "zzzzz yyyyy zzzzz"
  ) ++ (0 until 50).map { i =>
    val rng = new scala.util.Random(i)
    (0 until (rng.nextInt(12) * 7)).map(_ => "abcdefghij 0123456789 "(rng.nextInt(22)))
      .mkString.replaceAll("\\s+", " ").trim
  }

  private def df = {
    val s = spark
    import s.implicits._
    inputs.toDF("norm")
  }

  test("hashedShingles == sorted distinct fastHash of char-k shingles") {
    for (k <- Seq(3, 5)) {
      val got = df.select(col("norm"), Signatures.hashedShinglesCol(col("norm"), k).as("a"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1))
      got.foreach { case (s, arr) =>
        val want = Signatures.shingles(s, k).map(Signatures.fastHash).distinct.sorted
        assert(arr == want, s"hashedShingles mismatch k=$k input='$s'")
      }
    }
  }

  test("hashedShingles32 + minHashFromIntHashes == 32-bit Scala mirrors") {
    val cfg = DedupConfig()
    val a = Signatures.seedsA(cfg.numHashes, cfg.seed)
    val b = Signatures.seedsB(cfg.numHashes, cfg.seed)
    val got = df
      .select(col("norm"), Signatures.hashedShingles32Col(col("norm"), 5).as("shs"))
      .select(col("norm"), col("shs"),
        Signatures.minHashFromIntHashesCol(col("shs"), cfg).as("sig"))
      .collect()
    got.foreach { r =>
      val s = r.getString(0)
      val wantShs = Signatures.shingles(s, 5).map(Signatures.fastHash32).distinct.sorted
      assert(r.getSeq[Int](1) == wantShs, s"hashedShingles32 mismatch input='$s'")
      // the int MinHash must equal the long-kernel MinHash over the
      // sign-extended int values: same permutations, same P-arithmetic
      val wantSig = Signatures.minHashFromHashes(wantShs.map(_.toLong), a, b).toSeq
      assert(r.getSeq[Long](2) == wantSig, s"minHashFromIntHashes mismatch input='$s'")
    }
  }

  test("simHashWords(fast=true/false) == simHashWith(words, bits, hash)") {
    val got = df.select(col("norm"),
      Signatures.simHashFastCol(col("norm"), 60).as("f"),
      Signatures.simHashWordsCol(col("norm"), 60).as("s"))
      .collect()
    got.foreach { r =>
      val s = r.getString(0)
      assert(r.getLong(1) == Signatures.simHashWith(Signatures.words(s), 60, Signatures.fastHash),
        s"fast simhash mismatch input='$s'")
      assert(r.getLong(2) == Signatures.simHash(Signatures.words(s), 60),
        s"hash60 simhash mismatch input='$s'")
    }
  }

  test("minHashCol / minHashFromHashesCol == Scala minHash over the same shingles") {
    val cfg = DedupConfig(shingleK = 5, numHashes = 64, bands = 16)
    val a = Signatures.seedsA(cfg.numHashes, cfg.seed)
    val b = Signatures.seedsB(cfg.numHashes, cfg.seed)
    val got = df
      .select(col("norm"), Signatures.shinglesCol(col("norm"), cfg.shingleK).as("shs"))
      .select(col("norm"), col("shs"),
        Signatures.minHashCol(col("shs"), cfg).as("sig"))
      .collect()
    got.foreach { r =>
      val s = r.getString(0)
      val want = Signatures.minHash(Signatures.shingles(s, cfg.shingleK), a, b).toSeq
      assert(r.getSeq[Long](2) == want, s"minhash mismatch input='$s'")
    }
  }

  test("bandKeysCol / bitBlockKeysCol produce the oracle-mirrored strings") {
    val cfg = DedupConfig(shingleK = 5, numHashes = 64, bands = 16)
    val got = df
      .select(col("norm"),
        Signatures.bandKeysCol(
          Signatures.minHashCol(Signatures.shinglesCol(col("norm"), 5), cfg),
          cfg.bands).as("bk"),
        Signatures.bitBlockKeysCol(
          Signatures.simHashWordsCol(col("norm"), 60), 4, 60).as("bb"))
      .collect()
    val a = Signatures.seedsA(cfg.numHashes, cfg.seed)
    val b = Signatures.seedsB(cfg.numHashes, cfg.seed)
    got.foreach { r =>
      val s = r.getString(0)
      val sig = Signatures.minHash(Signatures.shingles(s, 5), a, b)
      assert(r.getSeq[String](1) == Signatures.bandKeys(sig, cfg.bands),
        s"band keys mismatch input='$s'")
      val sh = Signatures.simHash(Signatures.words(s), 60)
      assert(r.getSeq[String](2) == Signatures.bitBlockKeys(sh, 4, 60),
        s"bit-block keys mismatch input='$s'")
    }
  }

  test("cdcChunks: lossless concatenation + positional boundary rule vs brute force") {
    val k = 8; val mod = 16
    val got = df.select(col("norm"),
      graft.functions.SigExprs.cdcChunks(col("norm"), k, mod).as("ch"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1))
    got.foreach { case (s, chunks) =>
      assert(chunks.mkString == s, s"chunks must concatenate to input '$s'")
      if (s.isEmpty) assert(chunks.isEmpty, "empty string yields no chunks")
      else if (s.length < k) assert(chunks == Seq(s), "short string is one chunk")
      else {
        assert(chunks.forall(_.nonEmpty), s"no empty chunks for '$s'")
        // brute-force boundary positions: window END i (1-based) where
        // hash60 of the k-gram ending at i is 0 mod `mod`
        val bounds = (k to s.length)
          .filter(i => Signatures.hash60(s.substring(i - k, i)) % mod == 0)
        val ends = chunks.scanLeft(0)(_ + _.length).tail
        val expEnds =
          if (bounds.lastOption.contains(s.length)) bounds else bounds :+ s.length
        assert(ends == expEnds, s"cut positions mismatch for '$s'")
      }
    }
    // edits BEFORE a boundary leave chunking after it untouched
    // (content-defined, not offset-defined)
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val edited = "zzz " + base
    val s2 = spark
    import s2.implicits._
    val two = Seq(base, edited).toDF("norm")
      .select(graft.functions.SigExprs.cdcChunks(col("norm"), k, mod).as("ch"))
      .collect().map(_.getSeq[String](0))
    val Seq(cBase, cEdit) = two.toSeq
    if (cBase.length > 1 && cEdit.length > 1)
      assert(cBase.last == cEdit.last, "trailing chunks must realign after an edit")
  }

  test("winnowKeys: brute-force equality + the winnowing guarantee (SIGMOD'03)") {
    val k = 8; val w = 4
    def brute(s: String): Seq[Long] =
      if (s.isEmpty) Seq.empty
      else {
        val nG = if (s.length < k) 1 else s.length - k + 1
        val keys = (0 until nG).map { i =>
          val g = if (s.length < k) s else s.substring(i, i + k)
          (Signatures.hash60(g) % 1099511627776L) * 1048576L + i
        }
        val lastT = math.max(nG - w, 0)
        (0 to lastT).map(t => keys.slice(t, math.min(t + w, nG)).min)
          .distinct.sorted
      }
    val got = df.select(col("norm"),
      graft.functions.SigExprs.winnowKeys(col("norm"), k, w).as("ks"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1))
    got.foreach { case (s, ks) =>
      assert(ks == brute(s), s"winnow mismatch for '$s'")
      if (s.nonEmpty) assert(ks.nonEmpty, s"non-empty input must fingerprint: '$s'")
    }
    // the paper's guarantee: a shared substring of length >= w + k - 1
    // selects at least one common GRAM fingerprint (hash part, key >> 20)
    val shared = "sharedrunofcharacters"
    val a = "prefix junk " + shared + " tail one"
    val b = "completely different head " + shared + " other tail"
    val s2 = spark
    import s2.implicits._
    val fps = Seq(a, b).toDF("norm")
      .select(graft.functions.SigExprs.winnowKeys(col("norm"), k, w).as("ks"))
      .collect().map(_.getSeq[Long](0).map(_ >>> 20).toSet)
    assert((fps(0) intersect fps(1)).nonEmpty,
      "docs sharing a >= w+k-1 substring must share a selected fingerprint")
  }

  test("winnowFphs: equals the distinct hash parts of winnowKeys") {
    val k = 8; val w = 4
    val got = df.select(col("norm"),
      graft.functions.SigExprs.winnowKeys(col("norm"), k, w).as("ks"),
      graft.functions.SigExprs.winnowFphs(col("norm"), k, w).as("fs"))
      .collect()
    got.foreach { r =>
      val viaKeys = r.getSeq[Long](1).map(_ >>> 20).distinct.sorted
      assert(r.getSeq[Long](2) == viaKeys, s"fph mismatch for '${r.getString(0)}'")
    }
  }

  test("bucketPairs: equals the HOF pair expansion on long and string buckets") {
    val s2 = spark
    import s2.implicits._
    // the reference: the interpreted least/greatest HOF chain plus the
    // equal-id post-filter, the expansion the kernel replaced
    def viaKernelAndHof(in: org.apache.spark.sql.DataFrame)
        : (Seq[(Any, Any)], Seq[(Any, Any)]) = {
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.get(0), r.get(1))).toSeq
      val kernel = rows(in.select(graft.functions.SigExprs.bucketPairs(col("ids"))))
      val ids = col("ids")
      val hof = flatten(transform(ids, (x, i) =>
        transform(slice(ids, i + lit(2), greatest(size(ids) - i - 1, lit(0))), y =>
          struct(least(x, y).as("id1"), greatest(x, y).as("id2")))))
      val reference = rows(in.select(explode(hof).as("p"))
        .select(col("p.id1"), col("p.id2"))
        .where(col("id1") =!= col("id2")))
      (kernel, reference)
    }
    val rnd = new scala.util.Random(11)
    val longBuckets: Seq[Seq[Long]] = Seq(
      Seq.empty[Long], Seq(7L), Seq(3L, 9L), Seq(9L, 3L), Seq(5L, 5L),
      Seq(4L, 4L, 2L)) ++
      (0 until 30).map(_ => Seq.fill(2 + rnd.nextInt(12))(rnd.nextInt(8).toLong))
    // "｡" (U+FF61) sorts after "😀" (U+1F600) in UTF-16 but before it in
    // UTF-8 bytes (EF BD A1 < F0 9F 98 80): the kernel must follow Spark's
    // byte order, as least/greatest do
    val alphabet = Seq("a", "b", "ab", "", "｡", "😀")
    val stringBuckets: Seq[Seq[String]] = Seq(
      Seq.empty[String], Seq("x"), Seq("b", "a"), Seq("a", "a"),
      Seq("a", "b", "a"), Seq("｡", "😀"), Seq("😀", "｡", "😀")) ++
      (0 until 30).map(_ => Seq.fill(2 + rnd.nextInt(10))(alphabet(rnd.nextInt(alphabet.size))))
    for (in <- Seq(longBuckets.toDF("ids"), stringBuckets.toDF("ids"))) {
      val (kernel, reference) = viaKernelAndHof(in)
      assert(kernel.sortBy(_.toString) == reference.sortBy(_.toString),
        s"pair kernel diverges from the HOF expansion: $kernel vs $reference")
    }
    val emoji = Seq(Seq("😀", "｡")).toDF("ids")
      .select(graft.functions.SigExprs.bucketPairs(col("ids")))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(emoji == Seq(("｡", "😀")), s"ids must order by UTF-8 bytes: $emoji")
  }

  test("bandHashKeys: deterministic, band-positional, 58-bit masked (namespace-safe)") {
    val cfg = DedupConfig()
    val sigCol = Signatures.minHashFromHashesCol(
      Signatures.hashedShinglesCol(col("norm"), cfg.shingleK), cfg)
    val got = df.select(Signatures.bandHashKeysCol(sigCol, cfg.bands).as("k"))
      .collect().map(_.getSeq[Long](0))
    val again = df.select(Signatures.bandHashKeysCol(sigCol, cfg.bands).as("k"))
      .collect().map(_.getSeq[Long](0))
    assert(got.toSeq == again.toSeq, "band hash keys must be deterministic")
    got.foreach { ks =>
      assert(ks.length == cfg.bands)
      // high 6 bits zero: disjoint from packed bit-block namespaces (tag>=1)
      ks.foreach(k => assert((k & ~0x03FFFFFFFFFFFFFFL) == 0L, s"key $k escapes 58-bit mask"))
    }
    // same band values in different band positions must not collide (the
    // band index is mixed into the key)
    val s1 = Seq(1L, 2L, 3L, 4L)
    val sess = spark
    import sess.implicits._
    val rep = Seq((s1 ++ s1 ++ s1 ++ s1)).toDF("sig")
      .select(Signatures.bandHashKeysCol(col("sig"), 4).as("k"))
      .head().getSeq[Long](0)
    assert(rep.distinct.length == 4, "identical band values must key differently per band")
  }
}
