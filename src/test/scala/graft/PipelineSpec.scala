package graft

import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.app.Pipeline
import graft.cluster.Refine
import graft.gen.ImageGen
import graft.model.{Classification, DedupConfig}
import graft.sig.Signatures

/** End-to-end pipeline tests against the naive in-memory oracle
  * (FIXTURES.md §3, BASELINE.json north_rule: dup-pair recall >= 0.99 at
  * identical shingle/signature config) plus the per-row invariants
  * (decoded-pixel PSNR >= 40 dB for lossy, caption equality).
  */
class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("pipeline-spec")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val cfg: DedupConfig = DedupConfig()
  val n = 1000L
  val seed = 42L

  // ------------------------------------- naive oracle (shared, main scope)

  import graft.gen.PipeOracle
  type OFeat = PipeOracle.OFeat

  def oracleFeatures(recs: Seq[ImageGen.GenRecord]): Seq[OFeat] =
    PipeOracle.oracleFeatures(recs, cfg)

  def oracleDuplicate(a: OFeat, b: OFeat): Boolean =
    PipeOracle.oracleDuplicate(a, b, cfg)

  def unionFind(ids: Seq[String], dupPairs: Seq[(String, String)]): Map[String, String] =
    PipeOracle.unionFind(ids, dupPairs)

  def intraPairs(assign: Map[String, String]): Set[(String, String)] =
    assign.groupBy(_._2).values.flatMap { m =>
      val ids = m.keys.toSeq.sorted
      for (i <- ids.indices; j <- i + 1 until ids.length) yield (ids(i), ids(j))
    }.toSet

  lazy val gen: Seq[ImageGen.GenRecord] =
    (0L until n).map(i => ImageGen.record(seed, i, n))

  lazy val oracleAssign: Map[String, String] = {
    val feats = oracleFeatures(gen)
    val pairs = for {
      i <- feats.indices; j <- i + 1 until feats.length
      if oracleDuplicate(feats(i), feats(j))
    } yield (feats(i).id, feats(j).id)
    unionFind(feats.map(_.id), pairs)
  }

  lazy val pipelineOut = {
    val images = ImageGen.asImages(ImageGen.generate(spark, n, seed, 8))
    val df = images.toDF()
    val feats = Pipeline.features(df, cfg).cache()
    val cands = Pipeline.candidates(feats, cfg)
    val scored = Pipeline.classified(feats, cands, cfg).cache()
    val assign0 = Pipeline.cluster(feats, scored)
    val refined = Pipeline.refine(assign0, feats, scored, cfg)
    val canon = Pipeline.fuse(images.toDF(), refined)
    (assign0, refined, canon, scored)
  }

  // ----------------------------------------------------------------- tests

  test("generator is deterministic and PSNR invariant holds per row") {
    val r1 = ImageGen.record(seed, 7L, n)
    val r2 = ImageGen.record(seed, 7L, n)
    assert(r1.caption == r2.caption && r1.bytes.sameElements(r2.bytes))
    gen.take(60).foreach { r =>
      val (w, h, px) = ImageGen.decode(r.bytes)
      assert(w == r.w && h == r.h, s"${r.image_id} dims")
      val orig = ImageGen.pixels(seed,
        if (r.gold_cluster == r.image_id) r.image_id.drop(3).toLong
        else r.gold_cluster.drop(3).toLong, w, h)
      val p = ImageGen.psnr(orig, px)
      if (r.fmt == "jpg") assert(p >= 40.0, s"${r.image_id} fmt=jpg psnr=$p")
      else assert(p == Double.PositiveInfinity, s"${r.image_id} fmt=${r.fmt} lossless psnr=$p")
    }
  }

  test("pipeline dup-pair recall vs naive oracle >= 0.99 (north_rule)") {
    val oraclePairs = intraPairs(oracleAssign)
    val got = pipelineOut._1.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val gotPairs = intraPairs(got)
    val recall = (gotPairs & oraclePairs).size.toDouble / math.max(oraclePairs.size, 1)
    val precision = (gotPairs & oraclePairs).size.toDouble / math.max(gotPairs.size, 1)
    info(s"oracle pairs=${oraclePairs.size} pipeline pairs=${gotPairs.size} " +
      s"recall=$recall precision=$precision")
    assert(recall >= 0.99, s"recall $recall below 0.99")
    assert(precision >= 0.95, s"precision $precision suspiciously low")
  }

  test("gold-cluster recall: planted duplicates are found") {
    val goldPairs = intraPairs(gen.map(r => r.image_id -> r.gold_cluster).toMap)
    val got = pipelineOut._1.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val gotPairs = intraPairs(got)
    val recall = (gotPairs & goldPairs).size.toDouble / math.max(goldPairs.size, 1)
    info(s"gold pairs=${goldPairs.size} found=${(gotPairs & goldPairs).size} recall=$recall")
    assert(recall >= 0.95, s"gold recall $recall")
  }

  test("Pipeline.run keeps planted families whole at 6k (the flagship_dup input, seed 1): " +
    "gold dup-pair recall >= 0.97, precision >= 0.99") {
    // the default mix plants two big families (n/40 and n/60 members) that
    // hold most gold pairs; counted as perfbench's Checks.flagship counts
    // them: pairs sharing both a gold and a predicted cluster, over the
    // pairs inside gold clusters (recall) or predicted clusters (precision)
    val s = spark
    import s.implicits._
    val corpus = ImageGen.generate(spark, 6000L, seed = 1L, partitions = 8).cache()
    val gold = corpus.select("image_id", "gold_cluster").as[(String, String)].collect().toMap
    val assign = Pipeline.run(spark, ImageGen.asImages(corpus), cfg)._1
      .as[(String, String)].collect()
    def pairs(sizes: Iterable[Int]): Long = sizes.map(k => k.toLong * (k - 1) / 2).sum
    val together = pairs(assign.groupBy { case (id, c) => (gold(id), c) }.values.map(_.length))
    val goldPairs = pairs(gold.groupBy(_._2).values.map(_.size))
    val predPairs = pairs(assign.groupBy(_._2).values.map(_.length))
    val recall = together.toDouble / goldPairs
    val precision = together.toDouble / predPairs
    info(s"gold pairs=$goldPairs predicted=$predPairs together=$together " +
      s"recall=$recall precision=$precision")
    assert(assign.length == gold.size, "every input id is assigned once")
    assert(recall >= 0.97, s"gold dup-pair recall $recall below 0.97")
    assert(precision >= 0.99, s"gold dup-pair precision $precision below 0.99")
    corpus.unpersist()
  }

  test("recall holds at a second corpus size (n=3000): capture is not tuned to one n") {
    // The bit-block passes only GUARANTEE capture at Hamming <= 2 (simhash)
    // / <= 1 (phash); duplicates beyond that pigeonhole distance rely on the
    // cross-pass union (Model.scala capture contract). That coverage is
    // measured, so gate it at more than one corpus size — bucket occupancy
    // and cross-pass overlap both shift with n, and a retune that only
    // watches n=1000 could silently trade that coverage away.
    val n2 = 3000L
    val gen2 = (0L until n2).map(i => ImageGen.record(seed, i, n2))
    val feats2 = oracleFeatures(gen2)
    val oPairs = {
      val buf = Seq.newBuilder[(String, String)]
      for (i <- feats2.indices; j <- i + 1 until feats2.length)
        if (oracleDuplicate(feats2(i), feats2(j))) buf += ((feats2(i).id, feats2(j).id))
      buf.result()
    }
    val oracle2 = intraPairs(unionFind(feats2.map(_.id), oPairs))

    val df = ImageGen.asImages(ImageGen.generate(spark, n2, seed, 8)).toDF()
    val f = Pipeline.features(df, cfg).cache()
    f.count()
    val scored = Pipeline.classified(f, Pipeline.candidates(f, cfg), cfg).cache()
    val direct = scored.where(org.apache.spark.sql.functions.col("classification") ===
        Classification.Duplicate)
      .select("id1", "id2")
      .collect().map(r => (r.getString(0), r.getString(1)))
      .map(p => if (p._1 < p._2) p else p.swap).toSet
    val assign = Pipeline.cluster(f, scored)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val gotPairs = intraPairs(assign)
    val recall = (gotPairs & oracle2).size.toDouble / math.max(oracle2.size, 1)
    val precision = (gotPairs & oracle2).size.toDouble / math.max(gotPairs.size, 1)
    val directRecall = (direct & oPairs.toSet).size.toDouble / math.max(oPairs.size, 1)
    info(f"n=$n2: oracle=${oracle2.size} got=${gotPairs.size} recall=$recall%.4f " +
      f"precision=$precision%.4f direct-capture=$directRecall%.4f")
    assert(recall >= 0.99, s"n=$n2 recall $recall below 0.99")
    assert(precision >= 0.95, s"n=$n2 precision $precision suspiciously low")
    f.unpersist(); scored.unpersist()
  }

  test("refine only splits, never merges (SURVEY.md §7.1.5)") {
    val before = pipelineOut._1.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val after = pipelineOut._2.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(before.keySet == after.keySet, "refine must preserve the record set")
    // every refined cluster is a subset of a TC cluster
    after.groupBy(_._2).values.foreach { m =>
      val tcClusters = m.keys.map(before).toSet
      assert(tcClusters.size == 1, s"refined cluster spans TC clusters: $tcClusters")
    }
  }

  /** Refine.refineAll's contract on one id type: clusters of 2 and of
    * Refine.MaxRefine + 1 members pass through under their CC id, a 5-member
    * cluster with only negative weights splits into singletons named by
    * their own ids, and the split counter counts that one split.
    */
  def checkRefineContract[K](id: Int => K)(implicit enc: Encoder[K]): Unit = {
    val s = spark
    import s.implicits._
    val clusters = Seq(0 until 2, 10 until 15, 1000 to 1000 + Refine.MaxRefine)
    val assign = spark.createDataset(
      clusters.flatMap(c => c.map(i => (id(i), id(c.head)))))(Encoders.tuple(enc, enc))
      .toDF("id", "cluster_id")
    val members = assign.select(col("id"), lit(0).as("p"))
    val neg = Seq(0 -> 1) ++ (for (i <- 10 until 15; j <- i + 1 until 15) yield i -> j)
    val edges = spark.createDataset(neg.map { case (i, j) => (id(i), id(j), -1.0) })(
      Encoders.tuple(enc, enc, Encoders.scalaDouble)).toDF("id1", "id2", "w")
    val splits = spark.sparkContext.longAccumulator
    val got = Refine.refineAll[K, Int](assign, members, edges, (_, _) => -1.0, Some(splits))
      .as(Encoders.tuple(enc, enc)).collect().toMap
    val expected = clusters.flatMap { c =>
      c.map(i => id(i) -> (if (c.size == 5) id(i) else id(c.head)))
    }.toMap
    assert(got == expected)
    assert(splits.value == 1)
  }

  test("refineAll passes through clusters of <= 2 and > MaxRefine members and splits " +
    "on negative weights, for Long and String ids") {
    checkRefineContract[Long](_.toLong)(Encoders.scalaLong)
    checkRefineContract[String](i => f"r$i%05d")(Encoders.STRING)
  }

  test("refine names an unsplit cluster by its UTF-8 minimum id, as CC does") {
    val s = spark
    import s.implicits._
    // UTF-8 byte order: U+FF61 < U+1F600; UTF-16 (java.lang.String) order
    // puts the surrogate pair of U+1F600 first
    val ids = Seq("\uFF61", "\uFF61\uFF61", "\uD83D\uDE00")
    val feats = ids.map(i => (i, s"c$i", "same caption", Seq(1, 2, 3), 7L, 9L))
      .toDF("id", "chash", "norm", "shs", "phash", "simhash")
    val scored = (for (a <- ids; b <- ids if a < b)
      yield Pipeline.ScoredEdge(a, b, Classification.Duplicate, 1.0, "test")).toDS()
    val assign0 = Pipeline.cluster(feats, scored)
    assert(assign0.collect().map(_.getString(1)).toSet == Set("\uFF61"))
    val got = Pipeline.refine(assign0, feats, scored, cfg).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == ids.map(_ -> "\uFF61").toMap)
  }

  /** An image table of (image_id, bytes, caption, phash): all that
    * [[Pipeline.features]] reads.
    */
  private def imageRows(rows: (String, String, String, Long)*) = {
    val s = spark
    import s.implicits._
    rows.map { case (id, bytes, caption, phash) =>
      (id, Option(bytes).map(_.getBytes("UTF-8")).orNull, caption, phash)
    }.toDF("image_id", "bytes", "caption", "phash")
  }

  test("refine scores missing pairs through the verify cascade, null caption included") {
    // one content hash: the exact pass stars r2 and r3 to r1, so (r2, r3)
    // is a missing pair that refine scores itself; phashes share no
    // 32-bit half, so the phash pass pairs nothing
    val images = imageRows(("r1", "same", "a red car", 0x100000001L),
      ("r2", "same", null, 0x200000002L), ("r3", "same", "a blue boat", 0x300000003L))
    val feats = Pipeline.features(images, cfg)
    val scored = Pipeline.classified(feats, Pipeline.candidates(feats, cfg), cfg)
    val assign0 = Pipeline.cluster(feats, scored)
    val got = Pipeline.refine(assign0, feats, scored, cfg).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("r1" -> "r1", "r2" -> "r1", "r3" -> "r1"))
  }

  test("a null caption or null bytes is never a blocking key") {
    // null captions with phashes that share no 32-bit half, and null bytes
    // with unrelated captions: no pass may pair them
    val images = imageRows(
      ("n1", "b1", null, 0x100000001L), ("n2", "b2", null, 0x200000002L),
      ("n3", "b3", null, 0x300000003L),
      ("m1", null, "a red car parked outside", 0x1000000010L),
      ("m2", null, "green mountains under snow", 0x2000000020L),
      ("m3", null, "the old lighthouse keeper", 0x3000000030L))
    val feats = Pipeline.features(images, cfg)
    val pairs = Pipeline.candidates(feats, cfg).collect()
    assert(pairs.isEmpty, pairs.mkString(", "))
  }

  test("fusion: every cluster yields one canonical; caption from members; singletons pass through") {
    val canon = pipelineOut._3.collect()
    val assign = pipelineOut._2.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(canon.length == assign.values.toSet.size)
    val capByIds = gen.map(r => r.image_id -> r.caption).toMap
    val members = assign.groupBy(_._2)
    canon.foreach { c =>
      val ms = members(c.cluster_id).keys.toSeq
      assert(ms.contains(c.image_id))
      assert(c.image_id == ms.min, "canonical id must be min member id")
      assert(ms.map(capByIds).contains(c.caption), "caption must come from a member")
      assert(c.fuse_errors.isEmpty, s"unexpected fusion errors: ${c.fuse_errors}")
    }
    val singleton = canon.filter(_.n_members == 1)
    singleton.take(20).foreach { c =>
      assert(c.caption == capByIds(c.image_id))
    }
  }

  test("classification cascade emits lineage explanations") {
    val byRule = pipelineOut._4.groupBy("explanation").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    info(s"rule firing counts: $byRule")
    assert(byRule.contains("exact-bytes"))
    assert(byRule.contains("weighted-default"))
    assert(byRule.keys.forall(Set("exact-bytes", "substring", "disjoint", "weighted-default")))
  }
}
