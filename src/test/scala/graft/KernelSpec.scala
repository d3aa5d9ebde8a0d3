package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.cluster.Refine
import graft.cluster.Refine.WEdge
import graft.matching.StableMarriage
import graft.matching.StableMarriage.E
import graft.similarity.ScalarSims
import graft.sig.Signatures

/** Pure-Scala kernel tests with the reference's hand-computed expectations
  * (SURVEY.md §5; fixture sources cited per test).
  */
class KernelSpec extends AnyFunSuite {

  // --------------------------------------------------------------- hash60

  test("hash60 matches the DuckDB mirror value") {
    // precomputed: ('0x' || substr(md5('hello'),1,15))::BIGINT in DuckDB
    assert(Signatures.hash60("hello") == 419982666956583591L)
    assert(Signatures.hash60("") >= 0)
  }

  test("shingles: distinct k-grams, short strings collapse to themselves") {
    assert(Signatures.shingles("abcdef", 5) == Seq("abcde", "bcdef"))
    assert(Signatures.shingles("aaaa aaaa", 4).distinct == Signatures.shingles("aaaa aaaa", 4))
    assert(Signatures.shingles("abc", 5) == Seq("abc"))
    assert(Signatures.shingles("", 5) == Seq(""))
  }

  test("normalize: NFD accent fold + braced-term strip + lower/strip/collapse " +
    "(PersonCandidateSelection.java:53-64)") {
    assert(Signatures.normalize("  Héllo,  World!  ") == "hello world")
    assert(Signatures.normalize("A  B\t C") == "a b c")
    assert(Signatures.normalize("Müller") == "muller")
    assert(Signatures.normalize("Anna (née Schmidt) Meyer") == "anna meyer")
    assert(Signatures.normalize("a(x)b(y)c") == "abc")
    assert(Signatures.normalize("Ольга") == "")      // non-Latin falls away
    assert(Signatures.normalize("café São João") == "cafe sao joao")
  }

  test("minhash is permutation-stable and order-insensitive") {
    val a = Signatures.seedsA(16, 42); val b = Signatures.seedsB(16, 42)
    val s1 = Signatures.minHash(Seq("ab", "cd", "ef"), a, b)
    val s2 = Signatures.minHash(Seq("ef", "ab", "cd"), a, b)
    assert(s1.toSeq == s2.toSeq)
    assert(s1.forall(v => v >= 0 && v < Signatures.P))
    // signature of a superset is elementwise <= (mins only decrease)
    val s3 = Signatures.minHash(Seq("ab", "cd", "ef", "gh"), a, b)
    assert(s1.zip(s3).forall { case (x, y) => y <= x })
  }

  test("simhash: identical bags collide, small edits stay close") {
    val t1 = "the quick brown fox jumps over the lazy dog".split(" ").toSeq
    val t2 = "the quick brown fox jumps over the lazy cat".split(" ").toSeq
    val h1 = Signatures.simHash(t1, 60)
    val h2 = Signatures.simHash(t1, 60)
    val h3 = Signatures.simHash(t2, 60)
    assert(h1 == h2)
    assert(Signatures.hamming(h1, h3) < 30) // one token changed
    assert(Signatures.simHash(Seq.empty, 60) == 0L)
  }

  test("bit-block keys: hamming-close hashes share a block") {
    val h1 = 0x0F0F0F0F0F0F0F0FL
    val h2 = h1 ^ (1L << 3) ^ (1L << 40) // hamming 2
    val k1 = Signatures.bitBlockKeys(h1, 4, 60).toSet
    val k2 = Signatures.bitBlockKeys(h2, 4, 60).toSet
    assert((k1 & k2).nonEmpty) // 2 < blocks-1? guarantee is <= 3; holds here
  }

  // ------------------------------------------------------- similarity refs

  test("mongeElkan: mean-of-best with inner levenshtein; window; overflow regression " +
    "(MongeElkan.java:53-94)") {
    val me = ScalarSims.mongeElkan(ScalarSims.levenshtein())
    // abc: best lev-sim vs (abd=2/3, xxz=0); xyz: best vs (abd=0, xxz=2/3)
    assert(math.abs(me(Seq("abc", "xyz"), Seq("abd", "xxz")) - 2.0 / 3) < 1e-12)
    assert(me(Seq.empty, Seq.empty) == 1.0)
    assert(me(Seq("a"), Seq.empty) == 0.0)
    // positionWise (maxPositionDiff=0) zips positions
    val pw = ScalarSims.positionWise(ScalarSims.levenshtein())
    assert(math.abs(pw(Seq("abc", "xyz"), Seq("xyz", "abc")) - 0.0) < 1e-12)
    // regression: large finite maxPositionDiff must not overflow the window
    val big = ScalarSims.mongeElkan(ScalarSims.equality[String], Int.MaxValue - 1)
    assert(big(Seq("a"), Seq("a")) == 1.0)
  }

  test("cosineBag: histogram count-vector cosine (CosineSimilarityMeasure.java:42-66)") {
    val cb = ScalarSims.cosineBag[String]
    // counts {a:2,b:1} x {a:1,b:2}: dot 4, norms sqrt(5) -> 0.8
    assert(math.abs(cb(Seq("a", "a", "b"), Seq("a", "b", "b")) - 0.8) < 1e-12)
    assert(cb(Seq.empty, Seq.empty) == 1.0)
    assert(cb(Seq("a"), Seq.empty) == 0.0)
    assert(cb(Seq("x"), Seq("y")) == 0.0)
    assert(cb(Seq("x", "x"), Seq("x")) == 1.0)
  }

  test("stable-matching similarity: reference fixture (MatchingSimilarityTest.java:37-53)") {
    val men = Seq("aaa", "ddd", "bbb", "ccc")
    val women = Seq("abcd", "cc", "ab", "bb")
    val sim = ScalarSims.stableMatching(ScalarSims.levenshtein())
    val expected = (1 / 3d + 2 / 3d + 2 / 3d + 1 / 4d) / 4
    assert(math.abs(sim(men, women) - expected) < 1e-4)
    // extra man / extra woman divide by max cardinality (:56-99)
    assert(math.abs(ScalarSims.stableMatching(ScalarSims.levenshtein())(
      men :+ "x", women) - (1 / 3d + 2 / 3d + 2 / 3d + 1 / 4d) / 5) < 1e-4)
  }

  test("null inputs route to unknown (SimilarityContext default)") {
    val s = ScalarSims.nullSafe(ScalarSims.jaro)
    assert(s(null, "x").isNaN)
    assert(s("x", null).isNaN)
  }

  test("levenshtein: normalized + threshold pruning (Levenshtein.java:44-76)") {
    val l = ScalarSims.levenshtein()
    assert(l("kitten", "sitting") == 1.0 - 3.0 / 7)
    assert(l("", "") == 1.0)
    assert(ScalarSims.levenshtein(0.9)("abcdefghij", "jihgfedcba") == 0.0)
    assert(ScalarSims.levenshteinDistance("kitten", "sitting", 10) == 3)
    assert(ScalarSims.levenshteinDistance("kitten", "sitting", 2) == -1)
  }

  test("jaro-winkler matches canonical values (DuckDB-parity at boost 0.7)") {
    val jw = ScalarSims.jaroWinkler(0.7)
    assert(math.abs(jw("martha", "marhta") - 0.9611111111111111) < 1e-12)
    assert(math.abs(jw("dixon", "dicksonx") - 0.8133333333333332) < 1e-10)
    assert(jw("abc", "abc") == 1.0)
  }

  test("combinator truth tables (SimilarityMeasure.java defaults)") {
    import ScalarSims._
    val half: Sim[String] = (_, _) => 0.5
    val unknown: Sim[String] = (_, _) => Unknown
    assert(cutoff(0.6)(half)("a", "b") == 0.0)
    assert(cutoff(0.4)(half)("a", "b") == 0.5)
    assert(scaleWithThreshold(0.25)(half)("a", "b") == (0.5 - 0.25) / 0.75)
    assert(scaleWithThreshold(0.5)(half)("a", "b") == 0.0)
    assert(binarize(half)("a", "b") == 1.0)
    assert(negate(half)("a", "b") == 0.5)
    assert(isUnknown(unknownIfZero(cutoff(0.6)(half))("a", "b")))
    // aggregations skip unknowns; all-unknown => unknown
    assert(maxOf(unknown, half)("a", "b") == 0.5)
    assert(isUnknown(maxOf(unknown, unknown)("a", "b")))
    assert(weightedAverage(Seq(2.0 -> half, 1.0 -> unknown))("a", "b") == 0.5)
    assert(isUnknown(weightedAverage(Seq(1.0 -> unknown))("a", "b")))
  }

  // ---------------------------------------------------------- matching

  test("weakly stable marriage: basic preferences") {
    // L0 prefers R0 (w=1) over R1 (w=0.5); L1 only R0 (w=0.9): R0 prefers L0
    val m = StableMarriage.weaklyStable(2, 2,
      Seq(E(0, 0, 1.0), E(0, 1, 0.5), E(1, 0, 0.9))).toMap
    assert(m == Map(0 -> 0))
    // unmatched L1 has no alternative edge
  }

  test("hopcroft-karp finds maximum matching") {
    val adj = Array(List(0, 1), List(0), List(1))
    val ml = StableMarriage.hopcroftKarp(3, 2, adj)
    assert(ml.count(_ >= 0) == 2)
  }

  test("strongly stable marriage: reference fixtures (StronglyStableMarriageTest.java:47-116)") {
    def rk(xs: Int*): Seq[Seq[Int]] = xs.map(Seq(_))
    val m1 = StableMarriage.stronglyStableRanked(
      Seq(rk(1, 0, 2, 3), rk(3, 0, 1, 2), rk(0, 2, 1, 3), rk(1, 2, 0, 3)),
      Seq(rk(0, 2, 1, 3), rk(2, 3, 0, 1), rk(3, 1, 2, 0), rk(2, 1, 0, 3))).toSet
    assert(m1 == Set((0, 0), (1, 3), (2, 2), (3, 1)))
    val m2 = StableMarriage.stronglyStableRanked(
      Seq(rk(3, 0, 1, 2), rk(1, 2, 0, 3), rk(1, 3, 2, 0), rk(2, 0, 3, 1)),
      Seq(rk(3, 0, 2, 1), rk(0, 2, 1, 3), rk(0, 1, 2, 3), rk(3, 0, 2, 1))).toSet
    assert(m2 == Set((0, 3), (1, 2), (2, 1), (3, 0)))
  }

  test("weakly stable marriage: ranked preferences with unacceptable partners") {
    def rk(xs: Int*): Seq[Seq[Int]] = xs.map(Seq(_))
    val m = StableMarriage.weaklyStableRanked(
      Seq(rk(0, 1), rk(0)),
      Seq(rk(1), rk(0))).toMap // woman 0 only accepts man 1; man 1 only likes woman 0
    assert(m == Map(0 -> 1, 1 -> 0))
  }

  test("strongly stable marriage on strict preferences matches weak") {
    val edges = Seq(E(0, 0, 1.0), E(0, 1, 0.5), E(1, 0, 0.6), E(1, 1, 0.9))
    val strong = StableMarriage.stronglyStable(2, 2, edges).toMap
    assert(strong == Map(0 -> 0, 1 -> 1))
  }

  // ------------------------------------------------------------- refine

  test("triangular numbers (RefineClusterImplTest:33-47)") {
    assert(Refine.triangularNumber(1) == 1)
    assert(Refine.triangularNumber(2) == 3)
    assert(Refine.triangularNumber(5) == 15)
    assert(Refine.triangularNumber(100) == 5050)
  }

  test("gauss pairs enumerate the lower triangle (RefineClusterImplTest:49-76)") {
    val expected = for (l <- 0 until 7; r <- 0 to l) yield (l, r)
    expected.zipWithIndex.foreach { case ((l, r), i) =>
      assert(Refine.gaussPair(i) == (l, r), s"index $i")
    }
  }

  test("random edges: 55 potential yield exactly 45 non-self pairs (RefineClusterImplTest:78-84)") {
    val edges = Refine.randomEdges(55, 45, new scala.util.Random(7))
    assert(edges.size == 45)
    assert(edges.forall(e => e.l != e.r))
  }

  test("partitions iterator enumerates Bell(4)=15 partitions lexicographically") {
    val ps = Refine.partitionsIterator(4).map(_.toSeq).toSeq
    assert(ps.size == 15)
    assert(ps.head == Seq(0, 0, 0, 0))
    assert(ps.last == Seq(0, 1, 2, 3))
    assert(ps.distinct.size == 15)
  }

  test("greedy clustering: reference fixtures (RefineClusterImplTest:185-217)") {
    val all = Refine.greedyCluster(5, Seq(
      WEdge.of(0, 1, 1.0), WEdge.of(2, 3, 1.0), WEdge.of(3, 4, 1.0), WEdge.of(1, 3, 1.0)))
    assert(all.toSeq == Seq(0, 0, 0, 0, 0))
    val split = Refine.greedyCluster(5, Seq(
      WEdge.of(0, 1, 1.0), WEdge.of(2, 4, 1.0), WEdge.of(1, 3, 1.0)))
    assert(split.toSeq == Seq(0, 0, 2, 0, 2))
  }

  test("refine splits {Joanna x2, Johanna x3} exactly and heuristically (RefineClusterImplTest:125-182)") {
    val names = Seq("Joanna", "Joanna", "Johanna", "Johanna", "Johanna")
    def classify(i: Int, j: Int): Double = if (names(i) == names(j)) 1.0 else -1.0
    // exact path (maxSmall=10)
    val exact = Refine.refineCluster(5, Nil, classify, maxSmall = 10, seed = 1L)
    assert(exact.toSeq.take(2).distinct.size == 1)
    assert(exact.toSeq.drop(2).distinct.size == 1)
    assert(exact(0) != exact(2))
    // heuristic path (maxSmall=4)
    val heur = Refine.refineCluster(5, Nil, classify, maxSmall = 4, seed = 1L)
    assert(heur.toSeq.take(2).distinct.size == 1)
    assert(heur.toSeq.drop(2).distinct.size == 1)
    assert(heur(0) != heur(2))
  }

  test("refine passes through clusters of size <= 2 (RefineClusterImpl.java:244-246)") {
    assert(Refine.refineCluster(2, Nil, (_, _) => -1.0, 10, 1L).toSeq == Seq(0, 0))
  }

  test("refine handles >128-element clusters (RefineClusterImplTest:220-237)") {
    val labels = Refine.refineCluster(130, Nil, (_, _) => 1.0, maxSmall = 120, seed = 3L)
    assert(labels.distinct.length == 1) // all same name => one cluster
  }

  test("refine labels a big cluster independently of its known-edge order") {
    // 20 members (> maxSmall = 4), all 190 pairs known with tied weights:
    // the sampled subset and the greedy tie order both come from `known`,
    // so only a canonical edge order makes the labels order-free
    val rnd = new scala.util.Random(5)
    val known = (for (i <- 0 until 20; j <- i + 1 until 20)
      yield WEdge.of(i, j, if (rnd.nextInt(3) == 0) 1.0 else -1.0)).toList
    def classify(i: Int, j: Int): Double = if ((i + j) % 3 == 0) 1.0 else -1.0
    val orders = Seq(known, known.reverse) ++
      (1 to 4).map(k => new scala.util.Random(k).shuffle(known))
    val labels = orders.map(o => Refine.refineCluster(20, o, classify, maxSmall = 4, seed = 9L).toSeq)
    assert(labels.distinct.size == 1, s"labels depend on edge order: ${labels.distinct}")
  }

  // ------------------------------------------------------------- fusion

  test("fusion resolutions: reference semantics (CommonConflictResolutions)") {
    import graft.fuse.Fusion._
    def ann[T](vs: (T, String, Long)*): Seq[Annotated[T]] =
      vs.map { case (v, s, t) => Annotated(v, s, 1.0, t) }

    assert(longest(ann(("ab", "s1", 1L), ("abc", "s2", 2L))).map(_.value) == Seq("abc"))
    assert(latest(ann(("a", "s1", 1L), ("b", "s2", 2L))).map(_.value) == Seq("b"))
    assert(mostFrequent(ann(("a", "1", 1L), ("b", "2", 2L), ("a", "3", 3L))).map(_.value) == Seq("a"))
    assert(median[Double].apply(ann((1.0, "a", 1), (3.0, "b", 2), (2.0, "c", 3))).map(_.value) == Seq(2.0))
    assert(median[Double].apply(ann((1.0, "a", 1), (2.0, "b", 2))).map(_.value) == Seq(1.0, 2.0))
    assert(mean(ann((1.0, "a", 1), (3.0, "b", 2))).map(_.value) == Seq(2.0))
    assert(union[Int].apply(Seq(Annotated(Seq(1, 2), "a", 1.0, 1), Annotated(Seq(2, 3), "b", 1.0, 2)))
      .head.value == Seq(1, 2, 3))
    assert(preferSource[String]("gold", "silver")(
      ann(("x", "silver", 1L), ("y", "gold", 2L))).map(_.value) == Seq("y"))
    assert(vote[String].apply(Seq(
      Annotated("a", "s1", 3.0, 1), Annotated("b", "s2", 1.0, 2), Annotated("b", "s3", 1.0, 3)))
      .map(_.value) == Seq("a"))
  }

  test("tagged resolutions: corresponding picks from the winning source (TaggedResolution.java:42-58)") {
    import graft.fuse.Fusion._
    case class P(name: String, nick: String)
    val merge = Merge[P](Seq(
      FieldMerge[P, String]("name", _.name, (p, v) => p.copy(name = v),
        saveAs("nameTag")(andThen(longest, first)), (v: String) => v == null || v == ""),
      FieldMerge[P, String]("nick", _.nick, (p, v) => p.copy(nick = v),
        corresponding[String]("nameTag", first), (v: String) => v == null || v == "")))
    val out = merge.fuse(Seq(
      Annotated(P("Jo", "JJ"), "s1", 1.0, 1L),
      Annotated(P("Joanna", "Anni"), "s2", 1.0, 2L)))
    // s2 wins the name (longest) => nick must come from s2 too
    assert(out._1 == P("Joanna", "Anni") && out._2.isEmpty)
  }

  test("phonetic codecs encode deterministically and compose with equality") {
    import graft.similarity.Phonetics
    // value-level check through commons-codec directly (the Column wrappers
    // delegate to the same encoders)
    val cologne = new org.apache.commons.codec.language.ColognePhonetic()
    assert(cologne.encode("Mueller") == cologne.encode("Mueller"))
    assert(cologne.encode("Meyer") == cologne.encode("Meier"), "cologne should equate Meyer/Meier")
    val bm = new org.apache.commons.codec.language.bm.BeiderMorseEncoder()
    assert(bm.encode("Schmidt").nonEmpty)
    assert(Phonetics.phoneticEq(Phonetics.cologne) != null)
  }

  test("merge: fuses conflicting records field-wise, captures failures (ConflictResolutionsTest.java:75-122)") {
    import graft.fuse.Fusion._
    case class P(name: String, gender: String, age: Double)
    val merge = Merge[P](Seq(
      FieldMerge[P, String]("name", _.name, (p, v) => p.copy(name = v), andThen(longest, first)),
      FieldMerge[P, String]("gender", _.gender, (p, v) => p.copy(gender = v), assumeEqual[String]),
      FieldMerge[P, Double]("age", _.age.asInstanceOf[Double], (p, v) => p.copy(age = v), mean,
        (v: Double) => false)))
    val ok = merge.fuse(Seq(
      Annotated(P("Jo", "f", 30), "s1", 1.0, 1L),
      Annotated(P("Joanna", "f", 34), "s2", 1.0, 2L)))
    assert(ok._1 == P("Joanna", "f", 32.0) && ok._2.isEmpty)
    val bad = merge.fuse(Seq(
      Annotated(P("Jo", "f", 30), "s1", 1.0, 1L),
      Annotated(P("Jo", "m", 30), "s2", 1.0, 2L)))
    assert(bad._2.exists(_.startsWith("gender")))
    // singleton passthrough (ConflictResolutionFusion.java:77-79)
    val single = merge.fuse(Seq(Annotated(P("X", "?", 1), "s", 1.0, 1L)))
    assert(single._1 == P("X", "?", 1) && single._2.isEmpty)
  }

  test("nested merge(ctor) fuses struct-valued fields recursively; unionAll keeps " +
    "duplicates (CommonConflictResolutions.java:256-276, 388-416)") {
    import graft.fuse.Fusion._
    case class Name(first: String, last: String)
    case class P(id: String, name: Name, tags: Seq[String])
    val nameMerge = Merge[Name](Seq(
      FieldMerge[Name, String]("first", _.first, (n, v) => n.copy(first = v), andThen(longest, first)),
      FieldMerge[Name, String]("last", _.last, (n, v) => n.copy(last = v), assumeEqual[String])))
    val merge = Merge[P](Seq(
      FieldMerge[P, String]("id", _.id, (p, v) => p.copy(id = v), min[String]),
      FieldMerge[P, Name]("name", _.name, (p, v) => p.copy(name = v),
        nestedMerge(nameMerge), (v: Name) => v == null),
      FieldMerge[P, Seq[String]]("tags", _.tags, (p, v) => p.copy(tags = v),
        unionAll[String], (v: Seq[String]) => v == null)))
    val ok = merge.fuse(Seq(
      Annotated(P("b", Name("Jo", "Meyer"), Seq("x")), "s1", 1.0, 1L),
      Annotated(P("a", Name("Joanna", "Meyer"), Seq("x", "y")), "s2", 1.0, 2L)))
    assert(ok._1 == P("a", Name("Joanna", "Meyer"), Seq("x", "x", "y")) && ok._2.isEmpty)
    // nested failure (irreconcilable last name) surfaces in the OUTER error
    // list, prefixed by the outer field (nested FusionException capture)
    val bad = merge.fuse(Seq(
      Annotated(P("a", Name("Jo", "Meyer"), Seq()), "s1", 1.0, 1L),
      Annotated(P("b", Name("Jo", "Schmidt"), Seq()), "s2", 1.0, 2L)))
    assert(bad._2.exists(e => e.startsWith("name:") && e.contains("last")))
  }

  // ------------------------------------------------------------ DCT pHash

  test("DCT pHash: stable under jpeg re-encode, luma gain and brightness " +
    "offset; discriminative across images (vs average-hash)") {
    import graft.gen.ImageGen
    import graft.ops.PHash
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val (w, h) = (48, 40)
    val px = ImageGen.pixels(seed = 42L, base = 3L, w, h)
    val base = PHash.dctHash64(px, w, h)
    assert((base & 1L) == 0L, "DC bit must stay clear")

    // jpeg q0.95 re-encode: requantization perturbs high-frequency detail;
    // the low-frequency DCT block barely moves
    val (jw, jh, jpx) = ImageGen.decode(ImageGen.encode(px, w, h, "jpg"))
    assert(ham(base, PHash.dctHash64(jpx, jw, jh)) <= 4,
      s"jpeg drift ${ham(base, PHash.dctHash64(jpx, jw, jh))}")

    // global luma gain (x0.75) scales every DCT coefficient AND the AC
    // median equally -> hash unchanged; brightness offset lands in the
    // excluded DC term -> hash unchanged. Both invariances hold only
    // WITHOUT clipping, so the offset check compares v/2 vs v/2+40 (max
    // 167 — never clips); allow 2 bits for median ties near zero coeffs.
    def mapPx(f: Int => Int): Array[Int] = px.map { p =>
      val r = f((p >> 16) & 0xFF); val g = f((p >> 8) & 0xFF); val b = f(p & 0xFF)
      (math.min(255, r) << 16) | (math.min(255, g) << 8) | math.min(255, b)
    }
    assert(ham(base, PHash.dctHash64(mapPx(v => v * 3 / 4), w, h)) <= 2, "gain drift")
    val halfHash = PHash.dctHash64(mapPx(_ / 2), w, h)
    assert(ham(halfHash, PHash.dctHash64(mapPx(v => v / 2 + 40), w, h)) <= 2,
      "offset drift")
    // the average-hash is NOT offset-invariant on this image family
    // (spatial means shift through the global mean asymmetrically under
    // clipping); do not assert its failure — just the pHash's success.

    // different images must stay far apart (63 AC bits, ~31 expected)
    val other = (0L until 8L).map { b =>
      val opx = ImageGen.pixels(seed = 42L, base = 100L + b, w, h)
      ham(base, PHash.dctHash64(opx, w, h))
    }
    assert(other.forall(_ >= 16), s"collision-prone: $other")
  }
}
