package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cluster.ConnectedComponents
import graft.gen.ImageGen
import graft.ops.{Embeddings, Multimodal}

/** Specs for connected components (adversarial graphs vs union-find), ANN
  * recall, and multimodal decode determinism.
  */
class OpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("ops-spec")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def ufComponents(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map((0L until n.toLong).map(i => i -> i): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    (0L until n.toLong).map(i => i -> find(i)).toMap
  }

  /** CC at a driver-finish bound: 0 runs the distributed rounds on any
    * non-empty graph, the default finishes these small graphs on the
    * driver. Isolated nodes map to themselves, as in `assignAll`.
    */
  private def ccOf(edges: Seq[(Long, Long)], n: Int, localEdges: Long): Map[Long, Long] = {
    import spark.implicits._
    val got = ConnectedComponents.run(edges.toDF("src", "dst"), localEdges = localEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until n.toLong).map(i => i -> got.getOrElse(i, i)).toMap
  }

  private val bounds = Seq(0L, ConnectedComponents.LocalEdges)

  test("CC matches union-find on a long chain (worst case for label propagation)") {
    val n = 200
    val chain = (0L until n - 1L).map(i => (i, i + 1))
    bounds.foreach { b =>
      val got = ccOf(chain, n, b)
      assert(got.values.toSet == Set(0L), s"single chain must collapse to min id 0 (bound $b)")
      assert(got == ufComponents(n, chain), s"bound $b")
    }
  }

  test("CC matches union-find on random graphs") {
    val rnd = new scala.util.Random(7)
    val n = 300
    val edges = Seq.fill(250)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    val exp = ufComponents(n, edges)
    // same partition: representative choice is min id in both
    bounds.foreach(b => assert(ccOf(edges, n, b) == exp, s"bound $b"))
  }

  test("CC handles star graphs and isolated nodes") {
    val star = (1L until 50L).map(i => (0L, i))
    bounds.foreach { b =>
      val got = ccOf(star, 60, b)
      assert(got == ufComponents(60, star), s"bound $b")
      assert((0L until 50L).forall(i => got(i) == 0L))
      assert((50L until 60L).forall(i => got(i) == i), "isolated nodes are singletons")
    }
  }

  test("CC on an empty edge set returns no rows and runs no round") {
    import spark.implicits._
    bounds.foreach { b =>
      var stats = Option.empty[ConnectedComponents.Stats]
      val out = ConnectedComponents.run(Seq.empty[(Long, Long)].toDF("src", "dst"),
        localEdges = b, onStats = s => stats = Some(s))
      assert(out.collect().isEmpty, s"bound $b")
      assert(stats.contains(ConnectedComponents.Stats(0, 0L)), s"bound $b: $stats")
    }
  }

  test("CC hands a converged tail to the driver mid-loop") {
    // a 30-clique (435 edges) is over the bound; one round collapses it to
    // the 29-edge star on member 0, which fits and finishes on the driver
    val clique = for (i <- 0L until 30L; j <- i + 1 until 30L) yield (i, j)
    import spark.implicits._
    var stats = Option.empty[ConnectedComponents.Stats]
    val got = ConnectedComponents.run(clique.toDF("src", "dst"), localEdges = 100L,
      onStats = s => stats = Some(s))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stats.contains(ConnectedComponents.Stats(1, 29L)), s"$stats")
    assert(got == ufComponents(30, clique))
  }

  test("CC string cluster ids are the UTF-8 minimum on both paths") {
    // U+FF61 < U+1F600 in UTF-8 bytes (EF.. < F0..), but the emoji's UTF-16
    // surrogate (D83D) sorts first under java.lang.String.compareTo
    import spark.implicits._
    val (emoji, halfwidthStop) = ("\uD83D\uDE00", "\uFF61")
    val edges = Seq((emoji, halfwidthStop), ("y", "x")).toDF("src", "dst")
    bounds.foreach { b =>
      val got = ConnectedComponents.run(edges, localEdges = b)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got == Map(emoji -> halfwidthStop, halfwidthStop -> halfwidthStop,
        "x" -> "x", "y" -> "x"), s"bound $b")
    }
  }

  test("SRP-LSH ANN recall >= 0.9 of brute-force threshold pairs") {
    val vecs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val exact = Embeddings.thresholdPairs(vecs, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Embeddings.lshThresholdPairs(vecs, 64, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val recall = (approx & exact).size.toDouble / exact.size
    info(s"exact=${exact.size} approx=${approx.size} recall=$recall")
    assert(recall >= 0.9, s"SRP-LSH recall $recall")
    assert(approx.subsetOf(exact), "verified pairs must be exact-threshold pairs")
  }

  test("semantic pairs: subset of exact pairs; nprobe=2 recovers boundary recall") {
    val vecs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val exact = Embeddings.thresholdPairs(vecs, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(nprobe: Int): (Double, Set[(Long, Long)]) = {
      val got = Embeddings.semanticPairs(vecs, 0.4, nprobe = nprobe)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      ((got & exact).size.toDouble / exact.size, got)
    }
    val (r1, _) = recallAt(1)
    val (r2, got2) = recallAt(2)
    info(f"exact=${exact.size} recall nprobe1=$r1%.3f nprobe2=$r2%.3f")
    assert(got2.subsetOf(exact), "within-cell verify is exact cosine")
    assert(r2 >= r1, "second probe must not lose pairs")
    assert(r2 >= 0.8, s"semantic-pair recall $r2 below 0.8")
  }

  test("PQ rerank: near-dup recall@1 and general recall; trained codebooks beat untrained") {
    val vecs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val untrainedCb = Embeddings.pqCodebooks(8, 16, 8, seed = 7L)
    val trainedCb = Embeddings.trainPqCodebooks(vecs, 8, 16)

    // the metric PQ exists for: do planted near-duplicates (cos >= 0.4,
    // vs a ~0.0-cos uniform bulk) survive the ADC shortlist? The bulk's
    // exact top-10 is angle noise — distance concentration makes ANY
    // quantizer weak there, so that recall is reported, not gated hard.
    val nearIds = Embeddings.thresholdPairs(vecs, 0.4)
      .select(explode(array(col("id1"), col("id2"))).as("vec_id")).distinct()
    val nearQueries = vecs.join(nearIds, Seq("vec_id"))
    val exact1 = Embeddings.topK(vecs, nearQueries, 1).where(col("cosine") >= 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact1.nonEmpty, "fixture must contain near-duplicate queries")
    def nearRecall(cb: Array[Array[Array[Double]]]): Double = {
      val got = Embeddings.pqRerankTopK(vecs, nearQueries, 1, cb, shortlist = 50)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (got & exact1).size.toDouble / exact1.size
    }
    val nearU = nearRecall(untrainedCb)
    val nearT = nearRecall(trainedCb)

    val queries = vecs.where(col("vec_id") % 50 === 0)
    val exact = Embeddings.topK(vecs, queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def bulkRecall(cb: Array[Array[Array[Double]]]): Double = {
      val got = Embeddings.pqRerankTopK(vecs, queries, 10, cb, shortlist = 50)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (got & exact).size.toDouble / exact.size
    }
    val bulkU = bulkRecall(untrainedCb)
    val bulkT = bulkRecall(trainedCb)
    info(f"near-dup recall@1: untrained=$nearU%.3f trained=$nearT%.3f (n=${exact1.size}); " +
      f"bulk recall@10: untrained=$bulkU%.3f trained=$bulkT%.3f")
    assert(nearT >= 0.9, s"trained PQ must keep near-duplicates: $nearT")
    assert(nearT >= nearU - 0.02, "training must not lose near-dup recall")
    assert(bulkT >= bulkU - 0.02, "training must not lose bulk recall")
    assert(bulkU >= 0.4, s"untrained (catalog) bulk recall floor: $bulkU")
  }

  test("SQ8 rerank: near-dup recall@1 and bulk recall@10 through the integer shortlist") {
    val vecs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val nearIds = Embeddings.thresholdPairs(vecs, 0.4)
      .select(explode(array(col("id1"), col("id2"))).as("vec_id")).distinct()
    val nearQueries = vecs.join(nearIds, Seq("vec_id"))
    val exact1 = Embeddings.topK(vecs, nearQueries, 1).where(col("cosine") >= 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact1.nonEmpty)
    val got1 = Embeddings.sqRerankTopK(vecs, nearQueries, 1, shortlist = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val near = (got1 & exact1).size.toDouble / exact1.size

    val queries = vecs.where(col("vec_id") % 50 === 0)
    val exact10 = Embeddings.topK(vecs, queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got10 = Embeddings.sqRerankTopK(vecs, queries, 10, shortlist = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bulk = (got10 & exact10).size.toDouble / exact10.size
    info(f"SQ8 near-dup recall@1=$near%.3f (n=${exact1.size}); bulk recall@10=$bulk%.3f")
    // 8 bits/dim is a far finer quantizer than PQ's 4 bits/subspace — near
    // recall must be essentially exact, and even the angle-noise bulk
    // should beat the PQ floor comfortably
    assert(near >= 0.95, s"SQ8 must keep near-duplicates: $near")
    assert(bulk >= 0.6, s"SQ8 bulk recall floor: $bulk")
  }

  test("IVF-PQ composition: near-dup recall survives the coarse pruning") {
    val vecs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val cb = Embeddings.pqCodebooks(8, 16, 8, seed = 7L)
    val nearIds = Embeddings.thresholdPairs(vecs, 0.4)
      .select(explode(array(col("id1"), col("id2"))).as("vec_id")).distinct()
    val nearQueries = vecs.join(nearIds, Seq("vec_id"))
    val exact1 = Embeddings.topK(vecs, nearQueries, 1).where(col("cosine") >= 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact1.nonEmpty)
    def recallAt(nprobe: Int): Double = {
      val got = Embeddings.ivfPqTopK(vecs, nearQueries, 1, cb, nprobe = nprobe,
          shortlist = 50)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (got & exact1).size.toDouble / exact1.size
    }
    val pqOnly = {
      val got = Embeddings.pqRerankTopK(vecs, nearQueries, 1, cb, shortlist = 50)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (got & exact1).size.toDouble / exact1.size
    }
    val r4 = recallAt(4)
    val r16 = recallAt(16)
    info(f"near-dup recall@1: pq-full-scan=$pqOnly%.3f ivfpq nprobe4=$r4%.3f nprobe16=$r16%.3f")
    // probing ALL cells must recover exactly the unpruned PQ result —
    // the composition changes WHERE we look, never how we score
    assert(r16 == pqOnly, s"nprobe=K must equal the full PQ scan ($r16 vs $pqOnly)")
    assert(r4 >= 0.5, s"coarse pruning at nprobe=4/16 keeps most near-dups: $r4")
  }

  test("trained PQ codebooks are deterministic across invocations") {
    val vecs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val a = Embeddings.trainPqCodebooks(vecs, 8, 16)
    val b = Embeddings.trainPqCodebooks(vecs, 8, 16)
    assert(a.length == 8 && a(0).length == 16 && a(0)(0).length == 8)
    assert(a.flatten.flatten.toSeq == b.flatten.flatten.toSeq)
  }

  test("multi-probe SRP-LSH: flipping least-confident bits buys recall without more bands") {
    val vecs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    // query set = members of genuinely-near pairs (planted near-duplicates;
    // the uniform-angle bulk has no stable top-1 for an ANN index to find) —
    // the pairs an ANN index exists to not lose
    val nearIds = Embeddings.thresholdPairs(vecs, 0.4)
      .select(explode(array(col("id1"), col("id2"))).as("vec_id")).distinct()
    val queries = vecs.join(nearIds, Seq("vec_id"))
    val exact1 = Embeddings.topK(vecs, queries, 1).where(col("cosine") >= 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact1.nonEmpty, "fixture must contain near-duplicate queries")
    def got(probes: Int): Set[(Long, Long)] =
      Embeddings.lshTopKMultiProbe(vecs, queries, 1, bits = 24, bands = 6,
          probesPerBand = probes)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = (got(0) & exact1).size.toDouble / exact1.size
    val multi = (got(2) & exact1).size.toDouble / exact1.size
    info(f"near-dup recall@1: single-probe=$single%.3f multi-probe(2)=$multi%.3f n=${exact1.size}")
    // measured: single 0.788, multi 0.980 at 24 bits / 6 bands — the
    // probes must BUY recall, not just not lose it
    assert(multi >= single + 0.1, s"multi-probe gain too small ($single -> $multi)")
    assert(multi >= 0.9, s"multi-probe near-dup recall $multi below 0.9")
    // cost: probe expansion reads at most (1 + probes) buckets per band
    assert(got(2).size <= queries.count(), "top-1 output is bounded per query")
  }

  test("trained IVF (spherical kmeans on sample): real pruning at lift >= 2, deterministic") {
    val vecs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val queries = vecs.where(col("vec_id") % 50 === 0)
    val k = 10
    val nq = queries.count().toDouble
    val nv = vecs.count().toDouble
    def resultSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = resultSet(Embeddings.topK(vecs, queries, k))
    def recall(got: Set[(Long, Long)]): Double = (got & exact).size.toDouble / exact.size
    // scanned fraction: candidates examined per query / corpus size — the
    // cost side of the recall/cost trade (1.0 = no pruning = full scan)
    def scannedFrac(cents: Option[Array[Array[Double]]], nprobe: Int): Double = {
      val cellOf = Embeddings.ivfCellAssigner(
        cents.getOrElse(Embeddings.ivfCentroids(16, 64, 42L)), 1)
      val probeOf = Embeddings.ivfCellAssigner(
        cents.getOrElse(Embeddings.ivfCentroids(16, 64, 42L)), nprobe)
      val cells = vecs.select(explode(cellOf(col("embedding"))).as("cell"))
        .groupBy("cell").count()
      val probes = queries.select(col("vec_id"), explode(probeOf(col("embedding"))).as("cell"))
      probes.join(cells, Seq("cell")).agg(sum("count")).head().getLong(0) / (nq * nv)
    }
    val untrainedR = recall(resultSet(Embeddings.ivfTopK(vecs, queries, k, nprobe = 4)))
    val untrainedScan = scannedFrac(None, 4)
    val trained = Embeddings.trainIvfCentroids(vecs, numCells = 16)
    val trainedR = recall(resultSet(
      Embeddings.ivfTopK(vecs, queries, k, nprobe = 4, centroids = Some(trained))))
    val trainedScan = scannedFrac(Some(trained), 4)
    // recall@1: the single nearest neighbor is the planted near-duplicate
    // when one exists — the case IVF must not lose
    val exact1 = resultSet(Embeddings.topK(vecs, queries, 1))
    val trained1 = (resultSet(Embeddings.ivfTopK(vecs, queries, 1, nprobe = 4,
      centroids = Some(trained))) & exact1).size.toDouble / exact1.size
    info(f"untrained recall=$untrainedR%.2f scan=$untrainedScan%.2f; trained " +
      f"recall=$trainedR%.2f scan=$trainedScan%.2f recall@1=$trained1%.2f")
    // The untrained (data-independent) quantizer keeps the oracle row exact
    // but barely partitions real data — most vectors land in few cells, so
    // its probes re-scan ~the whole corpus (measured scan 1.00): its
    // recall 1.0 is a full scan in disguise. The synthetic embeddings are
    // near-uniform in angle (only ~59 pairs above cosine 0.4 in 10k), so
    // NO quantizer reaches high absolute recall@10 at nprobe/K=1/4 here;
    // the honest quality measure is LIFT — recall well above the scanned
    // fraction (random pruning has lift 1) — plus recall@1 on the planted
    // near-duplicates, which ARE angularly clustered.
    assert(trainedScan <= 0.4, s"trained IVF must prune (scanned $trainedScan)")
    assert(trainedR >= 2.0 * trainedScan,
      s"trained IVF lift ${trainedR / trainedScan} < 2 (recall $trainedR, scan $trainedScan)")
    // determinism: retraining yields identical centroids
    val again = Embeddings.trainIvfCentroids(vecs, numCells = 16)
    assert(trained.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq, "training must be deterministic")
  }

  test("multimodal decode: deterministic, correct dims, lossless luma match") {
    val images = ImageGen.asImages(ImageGen.generate(spark, 200L, seed = 7L, partitions = 4)).toDF()
    val f1 = Multimodal.decodeFeatures(images).collect().sortBy(_.image_id)
    val f2 = Multimodal.decodeFeatures(images).collect().sortBy(_.image_id)
    assert(f1.map(_.phash64).toSeq == f2.map(_.phash64).toSeq)
    assert(f1.forall(_.decode_ok))
    // phash from decode matches the generator's phash column for lossless fmts
    val gen = images.select("image_id", "fmt", "phash").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    f1.foreach { f =>
      val (fmt, ph) = gen(f.image_id)
      if (fmt != "jpg") assert(f.phash64 == ph, s"${f.image_id} phash mismatch")
      else assert(java.lang.Long.bitCount(f.phash64 ^ ph) <= 6,
        s"${f.image_id} jpg phash drifted ${java.lang.Long.bitCount(f.phash64 ^ ph)}")
    }
    assert(f1.forall(f => f.thumb8.length == 64))
  }

  test("format stats cover all formats with full decode success") {
    val images = ImageGen.asImages(ImageGen.generate(spark, 200L, seed = 7L, partitions = 4)).toDF()
    val stats = Multimodal.formatStats(Multimodal.decodeFeatures(images)).collect()
    assert(stats.map(_.getString(0)).toSet.subsetOf(Set("png", "bmp", "jpg")))
    stats.foreach(r => assert(r.getLong(1) == r.getLong(2), s"decode failures in ${r.getString(0)}"))
  }

  test("OracleClustering: gold lookup with singleton fallback + pair metrics " +
    "(OracleClustering.java:56-101)") {
    import spark.implicits._
    val records = (0L until 6L).toDF("rid")
    val gold = Seq((0L, 0L), (1L, 0L), (2L, 2L), (3L, 2L)).toDF("id", "cluster")
    val a = graft.cluster.OracleClustering.assign(records, "rid", gold)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 2L, 4L -> 4L, 5L -> 5L))

    // got merges {0,1,2} and misses {3}: tp = 1 of gold's 2 pairs; got has 3 pairs
    val got = Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 3L), (4L, 4L), (5L, 5L)).toDF("id", "c")
    val m = graft.cluster.OracleClustering.pairMetrics(got, gold).head()
    assert(m.getLong(0) == 3 && m.getLong(1) == 2 && m.getLong(2) == 1)
    assert(math.abs(m.getDouble(3) - 1.0 / 3) < 1e-12 && math.abs(m.getDouble(4) - 0.5) < 1e-12)
  }

  test("generic codec(StringEncoder) wrapper encodes like the named codecs " +
    "(CommonTransformations.java:131-139)") {
    import spark.implicits._
    val df = Seq("Meyer", "Meier", null).toDF("s")
    val generic = graft.similarity.Phonetics.codec(
      () => new org.apache.commons.codec.language.ColognePhonetic())
    val out = df.select(generic(col("s")).as("g"),
      graft.similarity.Phonetics.cologne(col("s")).as("named")).collect()
    out.foreach(r => assert(r.get(0) == r.get(1)))
    assert(out(0).getString(0) == out(1).getString(0), "cologne equates Meyer/Meier")
  }

  test("OracleClassifier: gold-pair lookup, orientation-agnostic (OracleClassifier.java:47-79)") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("id1", "id2")
    // gold stored in the OPPOSITE orientation for (1,2); (5,6) not gold
    val gold = Seq((2L, 1L), (3L, 4L)).toDF("id1", "id2")
    val out = graft.classify.Classifier.oracleClassify(pairs, gold)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(out((1L, 2L)) == "DUPLICATE" && out((3L, 4L)) == "DUPLICATE")
    assert(out((5L, 6L)) == "NON_DUPLICATE")
  }

  test("dd_incremental exact layer: identical-content batch doc maps to min existing id") {
    import spark.implicits._
    // the sf0.01 oracle gate exercises near/unique; this plants an EXACT
    // content duplicate (absent at that SF) so the hash-join layer and the
    // exact>near precedence are covered too
    val dir = java.nio.file.Files.createTempDirectory("graft-incr").toString
    val longA = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    Seq(
      (0L, longA), (1L, longA), (6L, longA), // 0 = batch; 1,6 = existing copies
      (10L, "completely different text about distributed systems and shuffle partitioning at scale"),
      (2L, "another unrelated existing document mentioning catalyst optimizer rules")
    ).toDF("doc_id", "text").write.mode("overwrite").parquet(dir + "/documents.parquet")
    val out = Queries.ddIncremental(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out(0L) == ((1L, "exact"))) // min(1, 6), method exact beats near
    assert(out(10L) == ((-1L, "unique")))
    assert(out.size == 2) // exactly the batch docs
  }

  test("TSV source feeds the typed dedup pipeline (PersonDeduplicationTest.java:45-67 shape)") {
    import spark.implicits._
    import graft.block.Blocking
    import graft.similarity.Sims
    // the reference's person corpus shape: tab-separated, header, quoted
    // fields, dd.MM.yy birthdates
    val dir = java.nio.file.Files.createTempDirectory("graft-tsv").toString
    val tsv = Seq(
      "id\tfirstname_full\tlastname\tbirthdate",
      "1\tPeter\tSmith\t01.02.85",
      "2\t\"Peter\"\tSmyth\t01.02.85",
      "3\tMaria\tJones\t15.07.90",
      "4\tJohannes\tBach\t21.03.68"
    ).mkString("\n")
    java.nio.file.Files.writeString(java.nio.file.Path.of(dir, "persons.tsv"), tsv)

    val df = graft.sources.Csv.readTsv(spark, dir)
      .select(col("id").cast("long").as("id"),
        col("firstname_full").as("first"), col("lastname").as("last"),
        to_date(col("birthdate"), "dd.MM.yy").as("bday"))
    val persons = df.as[(Long, String, String, java.sql.Date)]
    assert(persons.count() == 4)
    assert(df.schema("bday").dataType == org.apache.spark.sql.types.DateType)
    // quotes stripped by the reader, as in the reference's CSVFormat
    assert(df.where(col("id") === 2).head().getString(1) == "Peter")

    // and the frame drives the dedup operators directly: SNM on last name,
    // classified with the reference's person measures (lev + temporal)
    val pairs = Blocking.snmPairsScalable(df, "id", col("last"), window = 3)
    val a = df.select(col("id").as("id1"), col("last").as("l1"), col("bday").as("b1"))
    val b = df.select(col("id").as("id2"), col("last").as("l2"), col("bday").as("b2"))
    val scored = pairs.join(a, Seq("id1")).join(b, Seq("id2"))
      .select(col("id1"), col("id2"),
        ((Sims.levenshteinSim(col("l1"), col("l2")) +
          Sims.scaledDifferenceDays(365.0)(col("b1"), col("b2"))) / 2).as("score"))
    val dups = scored.where(col("score") >= 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dups == Set((1L, 2L)), s"Smith/Smyth same-birthday pair expected, got $dups")
  }

  test("sorted_intersect_card: wrong types fail analysis, not silently undercount") {
    import spark.implicits._
    val df = Seq((Seq(1, 2), Seq(2, 3))).toDF("a", "b") // array<int>, not array<bigint>
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(graft.functions.SortedIntersect.card(col("a"), col("b"))).collect()
    }
    assert(ex.getMessage.contains("array<bigint>") || ex.getMessage.toLowerCase.contains("type"))
  }

  test("frameSample: stride semantics vs generator truth; malformed " +
    "containers yield no frames, not garbage") {
    import spark.implicits._
    import graft.gen.VideoGen
    val vids = VideoGen.generate(spark, 20L, seed = 99L).toDF()
    val got = Multimodal.frameSample(vids, 4)
      .collect().map(f => (f.video_id, f.frame_idx) -> f.luma_sum).toMap
    val want = (0L until 20L).flatMap(i => VideoGen.frameMeta(99L, i))
      .filter(_.frame_idx % 4 == 0)
      .map(m => (m.video_id, m.frame_idx) -> m.luma_sum).toMap
    assert(got == want, s"sampled frames differ: got ${got.size}, want ${want.size}")
    // everyN = 1 keeps every frame
    val all = Multimodal.frameSample(vids, 1).count()
    assert(all == (0L until 20L).map(i => VideoGen.frameMeta(99L, i).size).sum)
    // malformed: bad magic, truncated payload, header-only
    val ok = VideoGen.record(99L, 0L)
    val badMagic = ok.bytes.clone(); badMagic(0) = 0x00
    val truncated = ok.bytes.take(ok.bytes.length - 1)
    val headerOnly = ok.bytes.take(12)
    val bad = Seq(("b1", badMagic), ("b2", truncated), ("b3", headerOnly))
      .toDF("video_id", "bytes")
    assert(Multimodal.frameSample(bad, 1).count() == 0)
    // adversarial header: w=h=-1 gives a POSITIVE frameBytes product (1)
    // and a length-consistent frame count — must still yield no frames
    val evil = java.nio.ByteBuffer.allocate(16 + 8)
    evil.putInt(VideoGen.Magic); evil.putInt(-1); evil.putInt(-1); evil.putInt(8)
    evil.put(Array.fill[Byte](8)(1))
    val evilDf = Seq(("e1", evil.array())).toDF("video_id", "bytes")
    assert(Multimodal.frameSample(evilDf, 1).count() == 0,
      "negative dims with positive product must be rejected")
  }

  test("IvfCells: NaN-poisoned embedding yields a defined, deterministic " +
    "assignment (UDF total-order semantics), never a crash; null element " +
    "fails loudly instead of silently zero-padding") {
    import spark.implicits._
    val cents = Embeddings.ivfCentroids(8, 4, 42L)
    val nan = Seq((1L, Seq(Float.NaN, 1f, 2f, 3f))).toDF("vec_id", "embedding")
    val cells = nan.select(
        graft.functions.IvfCells(col("embedding"), cents, 3).as("cells"))
      .head().getSeq[Int](0)
    // all scores NaN -> the sortBy((-s, c)) total order places them
    // index-ascending; the kernel's fallback must match
    assert(cells == Seq(0, 1, 2), s"got $cells")
    val withNull = Seq((1L, Seq[java.lang.Float](1f, null, 2f, 3f)))
      .toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      withNull.select(
        graft.functions.IvfCells(col("embedding"), cents, 1).as("c")).collect()
    }
    def rootChain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8).toSeq
    assert(rootChain(ex).exists(_.getMessage != null) &&
      rootChain(ex).exists(t => t.getMessage != null && t.getMessage.contains("null element")),
      s"expected loud null-element failure, got: $ex")
  }

  test("audioFeatures: decode matches generator truth; malformed clips dropped") {
    import spark.implicits._
    import graft.gen.AudioGen
    val clips = AudioGen.generate(spark, 15L, seed = 77L).toDF()
    val got = Multimodal.audioFeatures(clips)
      .collect().map(f => f.audio_id ->
        (f.sample_rate, f.n_samples, f.sum_abs, f.peak, f.zero_crossings)).toMap
    val want = (0L until 15L).map(i => AudioGen.clipMeta(77L, i)).map(m =>
      m.audio_id -> (m.sample_rate, m.n_samples, m.sum_abs, m.peak, m.zero_crossings)).toMap
    assert(got == want)
    val ok = AudioGen.record(77L, 0L)
    val badMagic = ok.bytes.clone(); badMagic(3) = 0x00
    val truncated = ok.bytes.take(ok.bytes.length - 1)
    val bad = Seq(("b1", badMagic), ("b2", truncated)).toDF("audio_id", "bytes")
    assert(Multimodal.audioFeatures(bad).count() == 0)
  }

  test("pigeonhole blocking is lossless at t = blocks-1 (mm_phash_pairs " +
    "contract): hd=7 always captured; hd=8 spread across all 8 blocks " +
    "shares no block and is correctly excluded by BOTH query and oracle") {
    import spark.implicits._
    import graft.block.Blocking
    // h1: 7 flips inside block 0 (worst concentration) -> blocks 1..7 intact
    // h2: 7 flips spread over blocks 0..6 (worst dispersion) -> block 7 intact
    // h3: 8 flips, exactly one per 8-bit block -> NO intact block vs h0,
    //     and hd(h0,h3)=8 > t anyway, so exclusion is consistent
    val h0 = 0L
    val h1 = 0x7FL
    val h2 = (0 until 7).map(b => 1L << (8 * b)).reduce(_ | _)
    val h3 = (0 until 8).map(b => 1L << (8 * b)).reduce(_ | _)
    val feats = Seq(("a", h0), ("b", h1), ("c", h2), ("d", h3))
      .toDF("id", "phash_dct")
    val cands = Blocking.bitBlockPairs(feats, "id", "phash_dct", 8, 64)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(cands.contains(("a", "b")), "hd=7 concentrated must be captured")
    assert(cands.contains(("a", "c")), "hd=7 dispersed must be captured")
    assert(!cands.contains(("a", "d")),
      "hd=8 one-flip-per-block shares no block key")
    // and hd(h1,h2)=14, hd(h1,h3)=13, hd(h2,h3)=1: (c,d) differ only in
    // block 7, so they DO share blocks 0..6 -> captured, verify keeps it
    assert(cands.contains(("c", "d")), "hd=1 pair must be captured")
  }

  test("hoppingWindows: epoch-aligned covering windows, boundary inclusion") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    // u=3700 covers starts {900,1800,2700,3600}; u=3600 exactly on a
    // boundary covers {900,...,3600} (start inclusive, end exclusive)
    val ev = Seq(
      (0L, ts(3700L), 1L, "click", 2.0),
      (1L, ts(3600L), 2L, "click", 9.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = graft.ops.Events.hoppingWindows(ev, 3600L, 900L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(got.keySet == Set(900L, 1800L, 2700L, 3600L).map(_ * 1000000L))
    assert(got(3600L * 1000000L) == ((2L, 2L, 2.0, 9.0)))
    assert(got(900L * 1000000L) == ((2L, 2L, 2.0, 9.0)))
  }

  test("packChunks: two-phase scan equals the naive global prefix sum, " +
    "including zero-token and chunk-spanning docs, sparse/negative ids") {
    import spark.implicits._
    val cap = 64L
    val rows = (0 until 500).map { i =>
      val id = i.toLong * 7 + i % 3 - 1000
      val tok =
        if (i % 11 == 0) 0L
        else if (i % 13 == 0) 300L // spans > 4 chunks
        else (i.toLong * 37) % 97
      (id, tok)
    }
    val got = graft.ops.Packing.packChunks(
        rows.toDF("doc_id", "n_tok"), "doc_id", col("n_tok"), cap, buckets = 7)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    var cum = 0L
    val want = rows.sortBy(_._1).map { case (id, tok) =>
      val first = cum / cap
      val last = (cum + math.max(tok, 1) - 1) / cap
      val e = id -> ((tok, first, cum % cap, last, last - first + 1))
      cum += tok
      e
    }.toMap
    assert(got.size == want.size)
    want.foreach { case (id, w) =>
      assert(got(id) == w, s"doc $id: got ${got(id)}, want $w")
    }
    // a 300-token doc at capacity 64 must span 5 or 6 chunks
    assert(got.values.exists(_._5 >= 5), "spanning docs must cross chunks")
  }

  test("interleave: distributed rank equals naive per-source row_number; " +
    "every stride-boundary prefix carries sources in exact weight ratio") {
    import spark.implicits._
    val docs = (0L until 120L)
      .map(i => (i, if (i < 60) "en" else if (i < 100) "zh" else "fr"))
      .toDF("doc_id", "lang")
    val sched = graft.ops.Interleave.schedule(
        docs, "doc_id", "lang", Map("en" -> 3L, "zh" -> 2L), 1L, buckets = 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // rank parity vs the naive per-source ordering
    val naive = Seq("en", "zh", "fr").flatMap { s =>
      docs.where(col("lang") === s).collect().map(_.getLong(0)).sorted
        .zipWithIndex.map { case (id, i) => (id, s) -> (i + 1L) }
    }.toMap
    sched.foreach { case (id, s, r, _) => assert(naive((id, s)) == r, s"doc $id") }
    // strides are lcm/w = 2,3,6: a virtual-time prefix at key K holds
    // floor(K/2) en, floor(K/3) zh, floor(K/6) fr — exact 3:2:1 at K=30
    val prefix = sched.filter(_._4 <= 30L)
    val byLang = prefix.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byLang == Map("en" -> 15, "zh" -> 10, "fr" -> 5), s"got $byLang")
  }

  test("dHash: exact 9x8 hand grid bit layout; invariant to global gain") {
    import graft.ops.PHash
    // 9x8 image, each pixel its own downsample cell; luma strictly
    // increases rightward on even rows, decreases on odd -> per-row bits
    // all 1 / all 0
    val w = 9; val h = 8
    val px = Array.tabulate(h, w) { (y, x) =>
      val v = if (y % 2 == 0) x * 20 else (8 - x) * 20
      (v << 16) | (v << 8) | v
    }.flatten
    val dh = PHash.dHash64(px, w, h)
    (0 until 8).foreach { y =>
      val rowBits = (0 until 8).map(x => (dh >>> (y * 8 + x)) & 1L).sum
      assert(rowBits == (if (y % 2 == 0) 8 else 0), s"row $y of $dh")
    }
    // halving every channel halves gray exactly (values are even):
    // ordering preserved -> identical hash (the gain-invariance claim)
    val dim = px.map { p =>
      val f = (c: Int) => ((p >> c) & 0xFF) / 2
      (f(16) << 16) | (f(8) << 8) | f(0)
    }
    assert(PHash.dHash64(dim, w, h) == dh, "dHash must be gain-invariant")
  }

  test("pixelSha collapses lossless re-encodes (png<->bmp), never lossy; " +
    "exactPixelDedup groups never cross a gold cluster") {
    import graft.ops.PHash
    val px = ImageGen.pixels(5L, 1L, 40, 33)
    def shaOf(fmt: String): String = {
      val (w, h, dpx) = ImageGen.decode(ImageGen.encode(px, 40, 33, fmt))
      PHash.pixelSha(dpx, w, h)
    }
    assert(shaOf("png") == shaOf("bmp"), "lossless re-encode must collapse")
    assert(shaOf("jpg") != shaOf("png"), "lossy re-encode must NOT collapse")

    val gen = ImageGen.generate(spark, 80L, seed = 7L, partitions = 4)
    val feats = Multimodal.decodeFeatures(ImageGen.asImages(gen).toDF())
    val groups = Multimodal.exactPixelDedup(feats)
    assert(groups.agg(sum(col("n_copies"))).head().getLong(0) == 80L,
      "groups must partition the corpus")
    assert(groups.where(col("n_copies") > 1).count() > 0,
      "planted lossless duplicates must collapse")
    // no false merges: each pixel-content group stays inside one gold cluster
    val shaToGold = feats.toDF().select(col("image_id"), col("pixel_sha"))
      .join(gen.toDF().select(col("image_id"), col("gold_cluster")), "image_id")
      .groupBy(col("pixel_sha"))
      .agg(countDistinct(col("gold_cluster")).as("ng"))
    assert(shaToGold.where(col("ng") > 1).count() == 0,
      "a pixel_sha group crossing gold clusters is a false merge")
  }

  test("sessionize: gap strictly-greater semantics, per-user isolation, durations") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    // user 1: gaps 1800s (stays), 1801s (splits); user 2: single event
    val ev = Seq(
      (0L, ts(0L), 1L, 1.0),
      (1L, ts(1800L), 1L, 2.0),     // gap == 1800 -> same session
      (2L, ts(3601L), 1L, 4.0),     // gap 1801 -> new session
      (3L, ts(0L), 2L, 8.0)
    ).toDF("event_id", "ts", "user_id", "value")
    val s = graft.ops.Events.sessionize(ev)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getAs[Long]("duration_us"), r.getAs[Float]("sum_value"))).toMap
    assert(s.size == 3)
    assert(s((1L, 1L)) == ((2L, 1800000000L, 3.0f)))
    assert(s((1L, 2L)) == ((1L, 0L, 4.0f)))
    assert(s((2L, 1L)) == ((1L, 0L, 8.0f)))
  }

  test("repetition signals: hand-computed fractions + empty/one-token edges") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    val docs = Seq(
      (0L, "a a a b"), // toks 4 (3 dup of 'a'), grams [a a, a a, a b]
      (1L, ""),        // empty: all zeros, nothing null
      (2L, "solo"),    // one token: no 2-grams
      (3L, "x y x y")  // grams [x y, y x, x y]
    ).toDF("doc_id", "text")
    val m = TextAnalysis.repetition(docs, "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    val r0 = m(0L)
    assert(r0.getAs[Int]("n_tokens") == 4 && r0.getAs[Int]("n_2grams") == 3)
    assert(r0.getAs[Double]("dup_tok_frac") == 0.5)      // (4-2)/4
    assert(r0.getAs[Double]("top_tok_frac") == 0.75)     // 3x 'a' / 4
    assert(r0.getAs[Double]("dup_2gram_frac") == 1.0 / 3)
    assert(r0.getAs[Double]("top_2gram_frac") == 2.0 / 3)
    val r1 = m(1L)
    assert(r1.getAs[Int]("n_tokens") == 0 && r1.getAs[Int]("n_2grams") == 0)
    assert(r1.getAs[Double]("top_tok_frac") == 0.0 &&
      r1.getAs[Double]("dup_2gram_frac") == 0.0)
    val r2 = m(2L)
    assert(r2.getAs[Int]("n_tokens") == 1 && r2.getAs[Int]("n_2grams") == 0)
    assert(r2.getAs[Double]("top_tok_frac") == 1.0)
    val r3 = m(3L)
    assert(r3.getAs[Double]("dup_tok_frac") == 0.5)
    assert(r3.getAs[Double]("top_2gram_frac") == 2.0 / 3)
    assert(!r0.getAs[Boolean]("repetition_ok") && !r3.getAs[Boolean]("repetition_ok"))
  }

  test("two-phase topTokens equals the naive single-window top-k (lossless prune)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // skewed vocabulary across many partitions: token t_i appears i times
    // per lang, with tie groups at the k boundary to exercise tie-breaks
    val rows = for {
      lang <- Seq("aa", "bb")
      i <- 1 to 40
      _ <- 1 to (i / 4 + 1) // duplicate counts => ties on n
    } yield (lang, s"t$i " * 2) // two tokens per doc
    val docs = rows.toDF("lang", "text").repartition(7)
    val got = graft.ops.TextAnalysis.topTokens(docs, "text", k = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
    val naive = docs
      .select(col("lang"), explode(split(graft.sig.Signatures.normalizeCol(col("text")), " ")).as("token"))
      .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("n"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("n").desc, col("token"))))
      .filter(col("rnk") <= 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
    assert(got == naive, s"two-phase top-k diverged: ${got.diff(naive)} vs ${naive.diff(got)}")
  }

  test("stratified sampling keeps exactly the rows whose bucket clears their stratum rate") {
    import spark.implicits._
    val df = (0L until 500L).map(i => (i, if (i % 3 == 0) "en" else "xx"))
      .toDF("id", "lang")
    val rates = Map("en" -> 50)
    val kept = graft.ops.Sampling.stratified(df, col("id"), col("lang"), rates, 20)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    (0L until 500L).foreach { i =>
      val bucket = java.lang.Math.floorMod(graft.sig.Signatures.hash60(i.toString), 100L)
      val rate = if (i % 3 == 0) 50 else 20
      if (bucket < rate) assert(kept.get(i).contains(bucket), s"row $i (bucket $bucket) missing")
      else assert(!kept.contains(i), s"row $i (bucket $bucket >= $rate) wrongly kept")
    }
    // reproducible: a rerun keeps the identical id set
    val again = graft.ops.Sampling.stratified(df, col("id"), col("lang"), rates, 20)
      .select("id").as[Long].collect().toSet
    assert(again == kept.keySet)
  }

  test("asofPrev: strictly-prior match, per-user isolation, null when no prior view") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(sec: Long) = Timestamp.from(java.time.Instant.ofEpochSecond(sec))
    val ev = Seq(
      // user 1: view@10(v=1.0), purchase@20, view@30(v=2.0), purchase@40
      (1L, ts(10), 1L, "view", 1.0),
      (2L, ts(20), 1L, "purchase", 9.9),
      (3L, ts(30), 1L, "view", 2.0),
      (4L, ts(40), 1L, "purchase", 9.9),
      // user 2: purchase@15 with NO prior view; view@15 of user 1 must not leak
      (5L, ts(15), 2L, "purchase", 9.9),
      // same-instant tie: view and purchase share ts=50; event_id orders the
      // view first, so it IS strictly prior to the purchase row
      (6L, ts(50), 2L, "view", 3.0),
      (7L, ts(50), 2L, "purchase", 9.9))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val m = graft.ops.Events.asofPrev(ev)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(m(2L).getDouble(2) == 1.0 && m(2L).getLong(3) == 10000000L)
    assert(m(4L).getDouble(2) == 2.0 && m(4L).getLong(3) == 10000000L)
    assert(m(5L).isNullAt(2) && m(5L).isNullAt(3))
    assert(m(7L).getDouble(2) == 3.0 && m(7L).getLong(3) == 0L)
  }

  test("propsRollup extracts the JSON field and aggregates order-independently") {
    import spark.implicits._
    val ev = Seq(
      (1L, "click", 10L, """{"k": 7}""", 1.5),
      (2L, "click", 11L, """{"k": -2}""", 0.25),
      (3L, "view", 10L, """{"k": 40}""", 9.0))
      .toDF("event_id", "event_type", "user_id", "props", "value")
    val m = graft.ops.Events.propsRollup(ev, "k")
      .collect().map(r => r.getString(0) -> r).toMap
    val c = m("click")
    assert(c.getLong(1) == 2 && c.getLong(2) == 2)      // n_events, n_users
    assert(c.getLong(3) == 5 && c.getLong(4) == -2 && c.getLong(5) == 7)
    assert(c.getDouble(6) == 0.25 && c.getDouble(7) == 1.5)
    val v = m("view")
    assert(v.getLong(1) == 1 && v.getLong(3) == 40)
  }

  test("funnel: strictly-after stage ordering, null propagation, absent without stage 1") {
    import spark.implicits._
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val ev = Seq(
      // user 1 completes every stage in order
      (1L, ts(10000000), 1L, "signup"), (2L, ts(20000000), 1L, "view"),
      (3L, ts(30000000), 1L, "click"), (4L, ts(40000000), 1L, "purchase"),
      // user 2's view precedes signup (must not count) and its click at the
      // EXACT signup instant is not strictly after either -> depth 1
      (5L, ts(5000000), 2L, "view"), (6L, ts(10000000), 2L, "signup"),
      (7L, ts(10000000), 2L, "click"),
      // user 3 skips click: purchase without the click stage doesn't deepen
      (8L, ts(10000000), 3L, "signup"), (9L, ts(20000000), 3L, "view"),
      (10L, ts(25000000), 3L, "purchase"),
      // user 4 never signs up -> absent from the funnel
      (11L, ts(10000000), 4L, "view"), (12L, ts(20000000), 4L, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val m = graft.ops.Events.funnel(ev)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(m.keySet == Set(1L, 2L, 3L))
    val u1 = m(1L)
    assert(u1.getLong(1) == 10000000L && u1.getLong(2) == 20000000L &&
      u1.getLong(3) == 30000000L && u1.getLong(4) == 40000000L)
    assert(u1.getInt(5) == 4)
    val u2 = m(2L)
    assert(u2.getLong(1) == 10000000L && u2.isNullAt(2) && u2.isNullAt(3) &&
      u2.isNullAt(4) && u2.getInt(5) == 1)
    val u3 = m(3L)
    assert(u3.getLong(2) == 20000000L && u3.isNullAt(3) && u3.isNullAt(4) &&
      u3.getInt(5) == 2)
  }

  test("split: exhaustive single-label assignment matching the salted hash, " +
    "statistically independent of the sampling bucket") {
    import spark.implicits._
    import graft.sig.Signatures
    val df = (0L until 2000L).toDF("doc_id")
    val fr = Seq("train" -> 90, "val" -> 5, "test" -> 5)
    val rows = graft.ops.Sampling.split(df, col("doc_id"), fr)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.length == 2000)
    rows.foreach { case (id, b, s) =>
      val expB = java.lang.Math.floorMod(Signatures.hash60(s"split:$id"), 100L)
      assert(b == expB, s"bucket of $id")
      val expS = if (b < 90) "train" else if (b < 95) "val" else "test"
      assert(s == expS, s"split of $id (bucket $b)")
    }
    val nTrain = rows.count(_._3 == "train")
    assert(nTrain > 1700 && nTrain < 1900, s"~90% train, got $nTrain/2000")
    // salted split bucket must decorrelate from the unsalted sampling bucket
    val sampleB = (id: Long) => java.lang.Math.floorMod(Signatures.hash60(id.toString), 100L)
    val keptAndTrain = rows.count(r => sampleB(r._1) < 50 && r._3 == "train")
    val kept = rows.count(r => sampleB(r._1) < 50)
    assert(math.abs(keptAndTrain.toDouble / kept - 0.9) < 0.05,
      s"split should be independent of sampling: P(train|kept)=${keptAndTrain.toDouble / kept}")
  }

  test("oovScore: hand-computed OOV fractions against a tiny vocabulary") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x", "a a b"),
      (2L, "x", "a c"),
      (3L, "x", ""),       // no tokens -> absent
      (4L, "y", "q q r"))  // own stratum: vocab is per-language
      .toDF("doc_id", "lang", "text")
    // lang x counts: a=3, b=1, c=1 -> top-2 = {a, b}; lang y top-2 = {q, r}
    val m = graft.ops.TextAnalysis.oovScore(docs, "text", vocabK = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(m.keySet == Set(1L, 2L, 4L))
    assert(m(1L).getLong(2) == 3 && m(1L).getLong(3) == 0 && m(1L).getDouble(4) == 0.0)
    assert(m(2L).getLong(2) == 2 && m(2L).getLong(3) == 1 && m(2L).getDouble(4) == 0.5)
    assert(m(4L).getLong(2) == 3 && m(4L).getLong(3) == 0)
  }

  test("retention: first-cohort day, once-per-offset counting, pre-signup activity excluded") {
    import spark.implicits._
    def ts(day: Int, h: Int = 0) =
      java.sql.Timestamp.valueOf(f"2024-01-${day}%02d $h%02d:00:00")
    val ev = Seq(
      // user 1: signs up day 2, active day 2 (twice) and day 4
      (ts(2), 1L, "signup"), (ts(2, 5), 1L, "view"), (ts(4), 1L, "click"),
      // user 2: active day 1 BEFORE signing up day 3; active again day 4
      (ts(1), 2L, "view"), (ts(3), 2L, "signup"), (ts(4), 2L, "purchase"),
      // user 3: never signs up -> absent
      (ts(2), 3L, "view"),
      // user 4: two signups -> cohort is the FIRST (day 2); day-3 activity
      (ts(2), 4L, "signup"), (ts(3), 4L, "signup"), (ts(3, 9), 4L, "view"))
      .toDF("ts", "user_id", "event_type")
    val got = graft.ops.Events.retention(ev)
      .collect()
      .map(r => (r.getDate(0).toString, r.getInt(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      ("2024-01-02", 0) -> 2L,  // users 1 and 4 on their signup day
      ("2024-01-02", 1) -> 1L,  // user 4 day 3 (deduped across 2 events)
      ("2024-01-02", 2) -> 1L,  // user 1 day 4
      ("2024-01-03", 0) -> 1L,  // user 2 signup day (day-1 view ignored)
      ("2024-01-03", 1) -> 1L)) // user 2 day 4
  }

  test("piiScan: counts and redaction on hand-built strings; PiiGen round-trips") {
    import spark.implicits._
    val docs = Seq(
      (1L, "reach me at jo.doe7@ymail.example.com or +1 212-555-0187 thanks"),
      (2L, "server 192.0.2.45 and 192.0.2.200 rebooted"),
      (3L, "no sensitive content here"),
      (4L, "two mails a.b@cmail.example.com x9@dmail.example.com one ip 192.0.2.1"))
      .toDF("doc_id", "text")
    val m = graft.ops.TextAnalysis.piiScan(docs, "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getLong(1) == 1 && m(1L).getLong(2) == 1 && m(1L).getLong(3) == 0)
    assert(m(1L).getString(4) == "reach me at <EMAIL> or <PHONE> thanks")
    assert(m(1L).getBoolean(5))
    assert(m(2L).getLong(3) == 2 &&
      m(2L).getString(4) == "server <IP> and <IP> rebooted")
    assert(m(3L).getLong(1) == 0 && m(3L).getLong(2) == 0 && m(3L).getLong(3) == 0 &&
      !m(3L).getBoolean(5) && m(3L).getString(4) == "no sensitive content here")
    assert(m(4L).getLong(1) == 2 && m(4L).getLong(3) == 1)

    // the generator's intent must be recovered exactly by the scan
    val gen = graft.gen.PiiGen.generate(spark, 200L, seed = 17L).toDF()
    val scanned = graft.ops.TextAnalysis.piiScan(gen, "text")
    val tot = scanned.agg(sum("n_emails"), sum("n_phones"), sum("n_ips"),
      sum(when(col("has_pii"), 1).otherwise(0))).head()
    assert(tot.getLong(0) > 0 && tot.getLong(1) > 0 && tot.getLong(2) > 0)
    assert(tot.getLong(3) < 200, "some documents must be PII-free")
    assert(!scanned.where(col("redacted").rlike("@|[0-9]{3}-555")).head(1).nonEmpty,
      "redacted text must contain no residual emails or phone cores")
  }

  test("URL canonicalize: hand cases; UrlGen variants collapse to gold, decoys don't") {
    import spark.implicits._
    val cases = Seq(
      // case + www + fragment + trailing slash + junk params + param order
      ("HTTPS://WWW.Alpha.Example.COM/News/Story/7/?page=2&utm_source=x&lang=en#top",
        "https://alpha.example.com/News/Story/7?lang=en&page=2"),
      ("http://beta.example.org/docs", "http://beta.example.org/docs"),
      // all params junk -> no query part at all
      ("https://a.example.com/p?utm_a=1&sessionid=99", "https://a.example.com/p"),
      // no path at all
      ("https://WWW.c.Example.org?b=2&a=1", "https://c.example.org?a=1&b=2"),
      // embedded full URL in a query VALUE: the second '?' and '://' must
      // not truncate the query (split at FIRST occurrence only)
      ("https://d.example.com/p?next=https://other.example.org/go?x=1&a=2",
        "https://d.example.com/p?a=2&next=https://other.example.org/go?x=1"),
      ("https://d.example.com/p?utm_next=https://t.example.org/r?u=9&a=2",
        "https://d.example.com/p?a=2"))
      .toDF("url", "want")
    val got = cases.select(graft.ops.Urls.canonicalize(col("url")).as("got"), col("want"))
      .collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1),
      s"got ${r.getString(0)}, want ${r.getString(1)}"))

    // junk rows (no scheme) canonicalize to NULL and are dropped by dedup
    val junk = Seq(("1", "not a url"), ("2", ""), ("3", "https://ok.example.com/p"))
      .toDF("url_id", "url")
    assert(junk.select(graft.ops.Urls.canonicalize(col("url")))
      .collect().count(_.isNullAt(0)) == 2)
    assert(graft.ops.Urls.dedup(junk, "url", "url_id").count() == 1)

    // generator round-trip: every row canonicalizes to its gold form
    // (via the staged path — the one dedup/production uses; the nested
    // single-Column form is covered by the hand cases above and must stay
    // semantically identical to it)
    val gen = graft.gen.UrlGen.generate(spark, 200L, seed = 23L).toDF()
    val bad = graft.ops.Urls.withCanonical(gen, "url", "got")
      .where(col("got") =!= col("gold_canonical"))
      .select(col("url"), col("gold_canonical"), col("got"))
      .head(3)
    assert(bad.isEmpty, s"canonicalize must recover gold: ${bad.mkString("; ")}")
    // group structure: base + 2 variants collapse (n=3), decoy stands alone
    val sizes = graft.ops.Urls.dedup(gen.select(col("url_id"), col("url")), "url", "url_id")
      .groupBy(col("n_urls")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes.getOrElse(3L, 0L) >= 45, s"~50 collapsed triples expected: $sizes")
    assert(sizes.getOrElse(1L, 0L) >= 45, s"~50 singleton decoys expected: $sizes")
  }

  test("decontaminate: distinct-gram counts, short-doc whole-text gram, eval excluded") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b c"),    // eval: grams {a b, b c}
      (1L, "a b x"),    // shares "a b" -> contaminated 1 of 2
      (2L, "z z z"),    // gram "z z" appears twice but counts ONCE (distinct)
      (3L, "q"),        // 1 word < n: whole text is the single gram
      (4L, ""))         // empty -> absent
      .toDF("doc_id", "text")
    val m = graft.ops.TextAnalysis.decontaminate(docs, "text", col("doc_id") === 0, n = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(m.keySet == Set(1L, 2L, 3L))
    assert(m(1L).getLong(1) == 2 && m(1L).getLong(2) == 1 && m(1L).getBoolean(3))
    assert(m(2L).getLong(1) == 1 && m(2L).getLong(2) == 0 && !m(2L).getBoolean(3))
    assert(m(3L).getLong(1) == 1 && m(3L).getLong(2) == 0 && !m(3L).getBoolean(3))
  }

  test("videoDupes: exact repost scores jaccard 1.0, trimmed repost (f-2)/f, " +
    "unrelated videos below threshold") {
    import spark.implicits._
    val n = 40L; val nOrig = 30L
    val videos = graft.gen.VideoGen.generateCorpus(spark, n, nOrig, seed = 11L).toDF()
    val pairs = graft.ops.Multimodal.videoDupes(videos, threshold = 0.5, cap = 64)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(pairs.nonEmpty)
    // every planted dup pairs with its base at the slice-predicted jaccard
    (nOrig until n).foreach { i =>
      val base = (graft.gen.ImageGen.mix(11L, i, 310) >>> 8) % nOrig
      val meta = graft.gen.VideoGen.frameMetaCorpus(11L, i, nOrig)
      val baseMeta = graft.gen.VideoGen.frameMeta(11L, base)
      val shared = meta.map(_.luma_sum).toSet
        .intersect(baseMeta.map(_.luma_sum).toSet).size
      val expJ = shared.toDouble /
        (meta.map(_.luma_sum).toSet.size + baseMeta.map(_.luma_sum).toSet.size - shared)
      val key = (f"vid$base%08d", f"vid$i%08d")
      assert(pairs.contains(key), s"planted dup pair $key missing")
      assert(math.abs(pairs(key).getDouble(5) - expJ) < 1e-12)
      assert(expJ >= 0.5, s"generator must plant above-threshold dups, got $expJ")
    }
    // no pair of two distinct ORIGINALS clears the threshold (collision
    // single-frame overlaps stay far below 0.5)
    pairs.keys.foreach { case (a, b) =>
      val ai = a.drop(3).toLong; val bi = b.drop(3).toLong
      assert(ai >= nOrig || bi >= nOrig, s"original pair ($a,$b) above threshold")
    }
  }

  test("dupSpans: cross-doc duplicated-gram fractions, within-doc repeats " +
    "count once, short-doc whole-text gram, empty doc absent") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b c d"),  // grams {a b, b c, c d}
      (1L, "a b c x"),  // grams {a b, b c, c x}: shares 2 of 3 with doc 0
      (2L, "z z z"),    // gram "z z" repeats WITHIN the doc only: not a dup
      (3L, "q"),        // < n words: whole text is the single gram
      (4L, "q extra"),  // gram "q extra" — does NOT match doc 3's gram "q"
      (5L, ""))         // empty -> absent from the output
      .toDF("doc_id", "text")
    val m = graft.ops.TextAnalysis.dupSpans(docs, "text", n = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(m.keySet == Set(0L, 1L, 2L, 3L, 4L))
    assert(m(0L).getLong(1) == 3 && m(0L).getLong(2) == 2)
    assert(math.abs(m(0L).getDouble(3) - 2.0 / 3) < 1e-12)
    assert(m(1L).getLong(1) == 3 && m(1L).getLong(2) == 2)
    assert(m(2L).getLong(1) == 1 && m(2L).getLong(2) == 0)
    assert(m(3L).getLong(1) == 1 && m(3L).getLong(2) == 0)
    assert(m(4L).getLong(1) == 1 && m(4L).getLong(2) == 0)
  }

  test("BoundedWorstHeap == sort-based selection incl. NaN/-0.0/ties; " +
    "topK invariant to input partitioning") {
    val rnd = new scala.util.Random(7)
    val special = Array(Double.NaN, -0.0, 0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, 1.0, 1.0)
    for (trial <- 0 until 50; asc <- Seq(true, false)) {
      val n = 1 + rnd.nextInt(40)
      val k = 1 + rnd.nextInt(12)
      val xs = Array.fill(n)((
        if (rnd.nextInt(4) == 0) special(rnd.nextInt(special.length))
        else rnd.nextInt(5).toDouble,
        rnd.nextInt(10).toLong))
      val h = new graft.ops.Embeddings.BoundedWorstHeap(k, asc)
      xs.foreach { case (s, id) => h.offer(s, id) }
      // compare via raw bits: NaN != NaN would break plain Set equality
      def bits(t: (Double, Long)) = (java.lang.Double.doubleToLongBits(t._1), t._2)
      val got = (0 until h.size).map(i => bits((h.ss(i), h.nn(i)))).toSet
      // Spark's window order: Double.compare total order (NaN largest)
      val ord = new Ordering[(Double, Long)] {
        def compare(a: (Double, Long), b: (Double, Long)): Int = {
          val c0 = java.lang.Double.compare(a._1, b._1)
          val c = if (asc) c0 else -c0
          if (c != 0) c else java.lang.Long.compare(a._2, b._2)
        }
      }
      val want = xs.sorted(ord).take(k).map(bits).toSet
      assert(got == want, s"trial=$trial asc=$asc xs=${xs.mkString(",")}")
    }

    // end-to-end: the pruned-window topK must not depend on partitioning
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = vecs.where(col("vec_id") < 5)
    def res(parts: Int) =
      graft.ops.Embeddings.topK(vecs.repartition(parts), q, 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(res(1) == res(13) && res(1).nonEmpty)
  }

  test("bloom: treeAggregate bitset == brute-force positions; no false " +
    "negatives on exact dups; 'new' verdict is sound") {
    import graft.functions.Bloom
    val dir = "/root/testdata/sf0.001"
    val m = Queries.bloomM; val k = Queries.bloomK

    val out = Queries.ddBloom(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getLong(2), r.getString(3))).toMap
    assert(out.nonEmpty)

    // reconstruct the ground truth from the raw table
    val norm = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), graft.sig.Signatures.normalizeCol(col("text")).as("norm"))
    val all = norm.collect().map(r => r.getLong(0) -> r.getString(1))
    val corpusNorms = all.filter(_._1 % Queries.incrMod != 0)
    val batch = all.filter(_._1 % Queries.incrMod == 0)
    def h12(s: String): (Long, Long) = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      (java.lang.Long.parseLong(hex.substring(0, 15), 16),
        java.lang.Long.parseLong(hex.substring(16, 31), 16))
    }
    // 1) bitset from the distributed fold == brute-force position set
    val hdf = norm.where(col("doc_id") % Queries.incrMod =!= 0).select(
      conv(substring(md5(col("norm").cast("binary")), 1, 15), 16, 10)
        .cast("long").as("h1"),
      conv(substring(md5(col("norm").cast("binary")), 17, 15), 16, 10)
        .cast("long").as("h2"))
    val bits = Bloom.buildBits(hdf, m, k)
    val want = new Array[Long](m / 64)
    corpusNorms.foreach { case (_, s) =>
      val (h1, h2) = h12(s)
      (0 until k).foreach { i =>
        val p = ((h1 + i * h2) % m).toInt; want(p >> 6) |= 1L << (p & 63)
      }
    }
    assert(java.util.Arrays.equals(bits, want), "bitset mismatch")

    // 2) semantics: dup ⇔ exact corpus match; dup ⇒ hit; new ⇒ no match
    val corpusSet = corpusNorms.map(_._2).toSet
    val corpusMin = corpusNorms.groupBy(_._2).map { case (s, xs) => s -> xs.map(_._1).min }
    batch.foreach { case (id, s) =>
      val (hit, dupOf, status) = out(id)
      if (corpusSet(s)) {
        assert(hit, s"false negative for $id")
        assert(status == "dup" && dupOf == corpusMin(s), s"wrong dup_of for $id")
      } else {
        assert(status == (if (hit) "fp" else "new"), s"wrong status for $id")
        assert(dupOf == -1L)
      }
      val (h1, h2) = h12(s)
      assert(hit == Bloom.contains(want, m, k, h1, h2), s"probe mismatch for $id")
    }
  }

  test("minhash estimator: exact on identical docs, bounded error vs true Jaccard") {
    import graft.sig.Signatures
    val cfg = Queries.lshCfg
    val a = Signatures.seedsA(cfg.numHashes, cfg.seed)
    val b = Signatures.seedsB(cfg.numHashes, cfg.seed)
    // families of planted near-dups: base caption + growing suffix edits
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = (0 until 12).map(i => base + (" extra" * i))
    def shs(s: String): Seq[Long] =
      Signatures.shingles(Signatures.normalize(s), cfg.shingleK)
        .map(Signatures.hash60).toSeq.distinct.sorted
    def sig(s: String): Array[Long] = Signatures.minHashFromHashes(shs(s), a, b)
    // identical docs agree on every component
    assert(sig(docs(0)).sameElements(sig(docs(0) + "")))
    val errs = for {
      i <- docs.indices; j <- i + 1 until docs.length
    } yield {
      val (si, sj) = (shs(docs(i)).toSet, shs(docs(j)).toSet)
      val exact = si.intersect(sj).size.toDouble / si.union(sj).size
      val est = sig(docs(i)).zip(sig(docs(j))).count { case (x, y) => x == y }
        .toDouble / cfg.numHashes
      math.abs(est - exact)
    }
    // 64 components give ~1/8 std error; these are fixed seeds so the
    // bound is deterministic, not flaky
    assert(errs.max <= 0.25, s"max estimator error ${errs.max}")
    assert(errs.sum / errs.size <= 0.10, s"mean estimator error ${errs.sum / errs.size}")
  }

  test("paragraphDedup: global first-occurrence semantics vs brute force") {
    import spark.implicits._
    import graft.sig.Signatures
    val w = 3
    // doc 0 and doc 2 share their first 2 chunks; doc 1 repeats its own
    // chunk; doc 3 is all-duplicate of doc 0's chunks; doc 4 is empty
    val raw = Seq(
      0L -> "aa bb cc dd ee ff gg hh ii",
      1L -> "xx yy zz xx yy zz tail one",
      2L -> "aa bb cc dd ee ff unique here",
      3L -> "aa bb cc dd ee ff",
      4L -> "")
    val got = graft.ops.TextAnalysis.paragraphDedup(
      raw.toDF("doc_id", "text"), "text", w)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(4))).toMap
    // brute force
    def chunksOf(s: String): Seq[String] = {
      val ws = Signatures.normalize(s).split(" ").filter(_.nonEmpty)
      if (ws.isEmpty) Nil
      else (0 to (ws.length - 1) / w).map(i => ws.slice(i * w, i * w + w).mkString(" "))
    }
    val all = raw.flatMap { case (id, s) =>
      chunksOf(s).zipWithIndex.map { case (c, i) => (id, i.toLong, c) } }
    val firstOf = all.groupBy(_._3).map { case (c, xs) =>
      c -> xs.map(x => (x._1, x._2)).min }
    val exp = all.groupBy(_._1).map { case (id, xs) =>
      val kept = xs.filter(x => firstOf(x._3) == ((x._1, x._2))).sortBy(_._2)
      id -> ((xs.size.toLong, kept.size.toLong,
        Signatures.hash60(kept.map(_._3).mkString(" "))))
    }
    assert(!got.contains(4L), "empty doc must be absent")
    exp.foreach { case (id, e) => assert(got(id) == e, s"doc $id: got ${got(id)} want $e") }
  }

  test("globalShuffle: a permutation per shard, deterministic, matches naive rank") {
    import spark.implicits._
    import graft.sig.Signatures
    val n = 500
    val df = (0L until n.toLong).toDF("doc_id")
    val got = graft.ops.Sampling.globalShuffle(df, col("doc_id"), nShards = 4, buckets = 8)
      .select("doc_id", "shard", "pos")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val naive = (0L until n.toLong).map { id =>
      val h = Signatures.hash60(s"shuf:$id")
      (id, (h % 4).toInt, h)
    }
    val expPos = naive.groupBy(_._2).flatMap { case (shard, xs) =>
      xs.sortBy(_._3).zipWithIndex.map { case ((id, s, _), p) => id -> ((s, p.toLong)) }
    }
    got.foreach { case (id, s, p) => assert(expPos(id) == ((s, p)), s"id $id") }
    // positions are a contiguous 0..k-1 permutation within every shard
    got.groupBy(_._2).foreach { case (_, xs) =>
      assert(xs.map(_._3).sorted.sameElements(xs.indices.map(_.toLong)))
    }
  }

  test("ivfBestScore: equals the Scala fold max over the same centroids, " +
    "and elect(argmin) keeps the lowest-scored member") {
    import spark.implicits._
    val cents = Embeddings.ivfCentroids(16, 64, 42L)
    val halfNorms = cents.map(c => c.map(x => x * x).sum / 2)
    val vecs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .limit(50)
    val got = vecs.select(col("vec_id"),
      graft.functions.IvfBestScore(col("embedding"), cents).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val raw = vecs.select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    raw.foreach { case (id, v) =>
      val want = cents.indices.map { c =>
        var acc = 0.0
        var d = 0
        while (d < v.length && d < cents(c).length) {
          acc += cents(c)(d) * v(d); d += 1
        }
        acc - halfNorms(c)
      }.max
      assert(got(id) == want, s"vec $id: ${got(id)} != $want")
    }
    // argmin election: the kept member of each cluster has the minimum
    // score (ties to lowest id)
    val assign = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L))
      .toDF("vec_id", "cluster_id")
    val scores = Seq(1L -> 5.0, 2L -> 3.0, 3L -> 3.0, 4L -> 9.0)
      .toDF("vec_id", "q_score")
    val reps = graft.ops.Keeplist.elect(assign, scores, "vec_id", "q_score",
        argmin = true)
      .where(col("keep")).select("vec_id").collect().map(_.getLong(0)).toSet
    assert(reps == Set(2L, 4L), s"argmin reps: $reps")
  }

  test("curation imageFilter: brute-force parity, rule precedence, threshold edges") {
    import spark.implicits._
    val minPx = 100L; val aN = 3; val aD = 2; val minW = 2; val maxW = 4
    // rows hitting: exact-threshold pixels, exact-ratio aspect, caption at
    // both word bounds, multi-failure precedence, all-pass
    val rows = Seq(
      ("a", 10, 10, "two words"),            // n_px == minPx exactly -> pass res
      ("b", 9, 11, "two words"),             // 99 px -> low_res
      ("c", 15, 10, "two words"),            // ratio 1.5 == 3/2 exactly -> pass
      ("d", 16, 10, "two words"),            // ratio 1.6 -> aspect
      ("e", 10, 10, "one"),                  // 1 word -> caption
      ("f", 10, 10, "a b c d e"),            // 5 words -> caption
      ("g", 10, 10, "a b c d"),              // 4 words == max -> pass
      ("h", 5, 5, "x"),                      // low_res AND caption -> low_res wins
      ("i", 40, 10, "")                      // aspect AND caption -> aspect wins
    ).toDF("image_id", "w", "h", "caption")
    val got = graft.ops.Curation.imageFilter(rows, minPx, aN, aD, minW, maxW)
      .select("image_id", "n_px", "n_cap_words", "keep", "drop_reason")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getInt(2), r.getBoolean(3), r.getString(4)))).toMap
    def brute(w: Int, h: Int, cap: String) = {
      val px = w.toLong * h
      val nw = cap.split(" ", -1).length
      val reason =
        if (px < minPx) "low_res"
        else if (math.max(w, h) * aD > math.min(w, h) * aN) "aspect"
        else if (nw < minW || nw > maxW) "caption"
        else "ok"
      (px, nw, reason == "ok", reason)
    }
    rows.collect().foreach { r =>
      val id = r.getString(0)
      assert(got(id) == brute(r.getInt(1), r.getInt(2), r.getString(3)),
        s"row $id: ${got(id)}")
    }
    assert(got("a")._3 && got("c")._3 && got("g")._3)
    assert(got("h")._4 == "low_res" && got("i")._4 == "aspect")
  }

  test("containment catches subset duplicates symmetric Jaccard misses") {
    import spark.implicits._
    import graft.sig.Signatures
    // B's shingle set is a strict subset of A's: containment 1.0 but
    // Jaccard well under the 0.6 catalog threshold
    val long = (1 to 40).map(i => s"w$i").mkString(" ")
    val short = (1 to 10).map(i => s"w$i").mkString(" ")
    val shs = Seq((1L, long), (2L, short)).toDF("doc_id", "text")
      .select(col("doc_id").as("id"),
        array_sort(transform(
          Signatures.wordNgramsCol(Signatures.normalizeCol(col("text")), 3),
          s => Signatures.hash60Col(s))).as("shs"))
    val s1 = shs.select(col("id").as("id1"), col("shs").as("sh1"))
    val s2 = shs.select(col("id").as("id2"), col("shs").as("sh2"))
    val pair = s1.crossJoin(s2).where(col("id1") < col("id2"))
      .select(
        graft.functions.SortedIntersect.card(col("sh1"), col("sh2")).as("c"),
        size(col("sh1")).as("n1"), size(col("sh2")).as("n2"))
      .head()
    val (c, n1, n2) = (pair.getInt(0), pair.getInt(1), pair.getInt(2))
    val jaccard = c.toDouble / (n1 + n2 - c)
    val containment = c.toDouble / math.min(n1, n2)
    assert(containment == 1.0, s"subset containment must be 1.0, got $containment")
    assert(jaccard < Queries.ngramJaccardT,
      s"jaccard $jaccard should sit below the symmetric threshold")
  }

  test("keeplist election: argmax score, ties to smallest id, vs brute force") {
    import spark.implicits._
    // clusters with score ties, singletons, negative-looking ids, and a
    // cluster whose max-score holder is NOT the min id
    val assign = Seq(
      ("a", 1L), ("b", 1L), ("c", 1L),   // tie on score 9 between b and c
      ("d", 2L),                          // singleton
      ("e", 3L), ("f", 3L),               // f wins on score
      ("g", 4L), ("h", 4L), ("i", 4L))    // all tie -> min id g
      .toDF("image_id", "cluster_id")
    val scores = Seq(
      "a" -> 1L, "b" -> 9L, "c" -> 9L, "d" -> 5L,
      "e" -> 2L, "f" -> 7L, "g" -> 3L, "h" -> 3L, "i" -> 3L)
      .toDF("image_id", "n_px")
    val got = graft.ops.Keeplist.elect(assign, scores, "image_id", "n_px")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(3),
        r.getBoolean(4), r.getLong(5)))).toMap
    val sc = scores.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val byCluster = assign.collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._2)
    byCluster.foreach { case (cid, members) =>
      val ids = members.map(_._1)
      val rep = ids.map(id => (-sc(id), id)).min._2
      ids.foreach { id =>
        assert(got(id) == ((cid, ids.length.toLong, rep, id == rep, sc(id))),
          s"member $id of cluster $cid: ${got(id)}")
      }
    }
    assert(got.values.count(_._4) == byCluster.size, "exactly one keep per cluster")
  }

  test("ngramLmScore: counts and score match naive bigram arithmetic") {
    import spark.implicits._
    import graft.sig.Signatures
    val raw = Seq(
      0L -> "a b a b a b",   // dominated by top bigrams
      1L -> "c d e f g h",   // all rare
      2L -> "a b c d",
      3L -> "solo",          // 1 token -> no bigrams -> absent
      4L -> "")
    val k = 2
    val got = graft.ops.TextAnalysis.ngramLmScore(raw.toDF("doc_id", "text"), "text", k)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    def bigrams(s: String): Seq[String] = {
      val ws = Signatures.normalize(s).split(" ").filter(_.nonEmpty)
      if (ws.length < 2) Nil else ws.sliding(2).map(_.mkString(" ")).toSeq
    }
    val all = raw.flatMap { case (_, s) => bigrams(s) }
    val counts = all.groupBy(identity).map { case (g, xs) => g -> xs.size.toLong }
    val top = counts.toSeq.sortBy { case (g, c) => (-c, g) }.take(k).toMap
    raw.foreach { case (id, s) =>
      val bs = bigrams(s)
      if (bs.isEmpty) assert(!got.contains(id), s"doc $id must be absent")
      else {
        val known = bs.count(top.contains)
        val freq = bs.map(g => top.getOrElse(g, 0L)).sum
        assert(got(id) == ((bs.size.toLong, known.toLong, freq)), s"doc $id: ${got(id)}")
      }
    }
  }

  // ------------------------------------------------- tile partial-dup

  test("tileDHashes: verbatim quadrant copy preserves exactly its tile hash") {
    val w = 40; val h = 36
    val a = ImageGen.pixels(1L, 5L, w, h)
    val b = ImageGen.pixels(1L, 99L, w, h)
    val hw = w / 2; val hh = h / 2
    val c = b.clone()
    for (y <- 0 until hh) System.arraycopy(a, y * w, c, y * w, hw)
    val ta = graft.ops.PHash.tileDHashes(a, w, h)
    val tb = graft.ops.PHash.tileDHashes(b, w, h)
    val tc = graft.ops.PHash.tileDHashes(c, w, h)
    assert(tc(0) == ta(0), "copied NW quadrant must keep its tile hash")
    assert(tc(1) == tb(1) && tc(2) == tb(2) && tc(3) == tb(3),
      "untouched quadrants must keep the canvas' tile hashes")
    assert(ta.length == 4 && ta.toSeq == graft.ops.PHash.tileDHashes(a, w, h).toSeq)
  }

  test("mm_tile_pairs: every planted composite pairs with its base image") {
    val pairs = ExtQueries.mmTilePairs(spark, "/tmp/graft-tile-spec").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    val nOrig = 400 * 6 / 10
    (0L until ExtQueries.mmTileComposites).foreach { j =>
      val cmp = f"cmp$j%010d"
      val base = f"img${j % nOrig}%010d"
      assert(pairs.exists(p => p._1 == cmp && p._2 == base && p._3 >= 1),
        s"composite $cmp must match base $base on >= 1 tile")
    }
    // whole-image duplicates (exact copies) match on all 4 tiles
    assert(pairs.exists(_._3 == 4), "full duplicates must match all tiles")
  }

  // ------------------------------------------------- curriculum ordering

  test("curriculum: global_pos is a tier-ordered permutation, partitioning-invariant") {
    val s = spark
    import s.implicits._
    val docs = (0L until 200L).map(i => (i, ("w " * (i % 50 + 1).toInt).trim))
      .toDF("doc_id", "text")
    val got = graft.ops.Sampling.curriculum(docs, "text", 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(4)))
    assert(got.map(_._4).sorted.toSeq == (0L until 200L), "positions form a permutation")
    val tiersByPos = got.sortBy(_._4).map(_._3)
    assert(tiersByPos.zip(tiersByPos.tail).forall { case (a, b) => a <= b },
      "tiers must ascend along the curriculum")
    val again = graft.ops.Sampling.curriculum(docs.repartition(7), "text", 16)
      .collect().map(r => (r.getLong(0), r.getLong(4))).toMap
    assert(got.map(t => (t._1, t._4)).toMap == again,
      "order must not depend on input partitioning")
  }

  // ------------------------------------------------- audio near-dup

  test("mm_audio_dupes: every planted repost pairs with its base above threshold") {
    val pairs = ExtQueries.mmAudioDupes(spark, "/tmp/graft-audio-spec").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(5)))
    val nOrig = 300L
    (nOrig until ExtQueries.mmAudioDupN).foreach { i =>
      val base = (ImageGen.mix(13L, i, 410) >>> 8) % nOrig
      val (b, d) = (f"aud$base%08d", f"aud$i%08d")
      val (lo, hi) = if (b < d) (b, d) else (d, b)
      assert(pairs.exists(p => p._1 == lo && p._2 == hi && p._3 >= 0.5),
        s"repost $d must pair with base $b")
    }
    // exact reposts reach jaccard 1.0; trimmed ones sit in [0.5, 1)
    assert(pairs.exists(_._3 == 1.0) && pairs.exists(p => p._3 < 1.0 && p._3 >= 0.5))
  }

  // ------------------------------------------------- density clustering

  test("dbscan: labels equal a brute-force DBSCAN over the same epsilon-graph") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    // clustered corpus: 40 latent centers for the first 280 points (dense
    // regions -> core/border), then 20 isolated directions (noise)
    val centers = Array.fill(40)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val vecs = (0 until 300).map { i =>
      val c = if (i < 280) centers(i % 40)
              else Array.fill(64)(rnd.nextGaussian().toFloat)
      (i.toLong, c.zipWithIndex.map { case (v, j) =>
        v + 0.15f * ((graft.sig.Signatures.hash60(s"n:$i:$j") % 1000) / 1000.0f - 0.5f) })
    }
    val df = vecs.toDF("vec_id", "embedding")
    val t = 0.8; val minPts = 3
    val edges = graft.ops.Embeddings.semanticPairs(df, t)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1)))
    // brute-force DBSCAN over that graph
    val nbrs = scala.collection.mutable.Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
    edges.foreach { case (a, b) => nbrs(a) += b; nbrs(b) += a }
    val core = (0L until 300L).filter(v => nbrs(v).size >= minPts - 1).toSet
    val parent = scala.collection.mutable.Map((0L until 300L).map(i => i -> i): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      if (core(a) && core(b)) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
    }
    val coreCluster = core.map(v => v -> core.filter(u => find(u) == find(v)).min).toMap
    val exp = (0L until 300L).map { v =>
      if (core(v)) (v, coreCluster(v), "core")
      else {
        val cn = nbrs(v).filter(core)
        if (cn.nonEmpty) (v, cn.map(coreCluster).min, "border")
        else (v, -1L, "noise")
      }
    }.map(x => x._1 -> ((x._2, x._3))).toMap
    val got = graft.ops.Embeddings.dbscan(df, t, minPts).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(got == exp, {
      val diff = exp.keys.filter(k => got(k) != exp(k)).take(5)
      s"first diffs: ${diff.map(k => (k, got(k), exp(k)))}"
    })
    assert(exp.values.exists(_._2 == "core") && exp.values.exists(_._2 == "noise"),
      "corpus must exercise core and noise roles")
  }

  // ------------------------------------------------- winnow overlap pairs

  test("dd_winnow_pairs: containment-planted docs pair with high overlap, unrelated absent") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-winnowpairs").toString
    val a = "the quick brown fox jumps over the lazy dog while seven wizards " +
      "brew hazy potions near the river delta under amber skies tonight"
    val b = "unrelated preamble text " + a + " and an unrelated closing remark"
    val c = "completely different content about basalt cliffs and juniper " +
      "groves where krill lagoons meet the tundra meadow under violet light"
    val d = c
    Seq((0L, a), (1L, b), (2L, c), (3L, d)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Queries.ddWinnowPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    assert(got.contains((0L, 1L)), s"contained doc must pair with its container: $got")
    assert(got((0L, 1L)) > 0.8, s"containment overlap should be high: ${got((0L, 1L))}")
    assert(got.contains((2L, 3L)) && got((2L, 3L)) == 1.0, "exact copy pairs at overlap 1")
    assert(!got.contains((0L, 2L)) && !got.contains((1L, 2L)),
      s"unrelated docs must not pair: $got")
  }

  test("dd_winnow_pairs: df-stopgram filter keeps planted near-dup recall on a corpus-common vocabulary") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-winnowdf").toString
    // adversarial shape for the df filter (the sf-table generator's shape):
    // every doc is built from the SAME small vocabulary, so most grams are
    // corpus-common and the cap-only index drowns; planted near-dup copies
    // must still be recovered from their surviving rare fingerprints
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "fox",
      "golf", "hotel", "india", "julia", "kilo", "lima", "mike", "nov",
      "oscar", "papa", "quebec", "romeo", "sierra", "tango")
    def doc(): String = Seq.fill(60)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val bases = (0 until 120).map(i => i.toLong -> doc())
    // 20 planted near-dups: copy of a base with a small local edit
    val planted = (0 until 20).map { i =>
      val (bid, btext) = bases(i)
      val words = btext.split(" ").toVector
      val j = 10 + rnd.nextInt(40)
      (1000L + i, (words.take(j) :+ vocab(rnd.nextInt(vocab.size)))
        .++(words.drop(j)).mkString(" "), bid)
    }
    (bases.map { case (id, t) => (id, t) } ++ planted.map(p => (p._1, p._2)))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Queries.ddWinnowPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = planted.map(p => (math.min(p._3, p._1), math.max(p._3, p._1))).toSet
    val recall = truth.count(got.contains).toDouble / truth.size
    assert(recall >= 0.99, s"planted near-dup recall $recall < 0.99 (missed ${truth -- got})")
    // the filter's scale property: every surviving fingerprint bucket is
    // bounded by winnowDfMax BY CONSTRUCTION (constant per-bucket pairing
    // cost, linear candidate growth)
    val fp = Queries.docNorm(spark, dir)
      .where(org.apache.spark.sql.functions.length(col("norm")) > 0)
      .select(col("doc_id"), org.apache.spark.sql.functions.explode(
        graft.functions.SigExprs.winnowKeys(col("norm"), Queries.winnowK, Queries.winnowW))
        .as("key"))
      .select(col("doc_id"), org.apache.spark.sql.functions.shiftright(col("key"), 20).as("fph"))
      .distinct()
    val maxRareBucket = fp.groupBy("fph").count()
      .where(col("count") <= Queries.winnowDfMax)
      .agg(org.apache.spark.sql.functions.max(col("count"))).head.getLong(0)
    assert(maxRareBucket <= Queries.winnowDfMax)
  }

  // ------------------------------------------------- distinct-user sketch

  test("approxUsers: bitmap equals brute-force linear counting; sketch bounds exact") {
    val s = spark
    import s.implicits._
    val m = 128
    def ts(h: Int, i: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:${i % 60}%02d:00")
    // hour 0: 90 users over 180 events (collisions certain at m=128);
    // hour 1: 3 users; users repeat across hours
    val rows = (0 until 180).map(i => (i.toLong, ts(0, i), (i % 90).toLong, "a", 1.0, "{}")) ++
      Seq(200, 201, 202).map(i => (i.toLong, ts(1, i), (i - 150).toLong, "b", 1.0, "{}"))
    val events = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.ops.Events.approxUsers(events, m).collect()
      .map(r => r.getTimestamp(0).toString -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    def bruteBits(users: Seq[Long]): Long =
      users.map(u => graft.sig.Signatures.hash60(s"u:$u") % m).distinct.size.toLong
    assert(got("2024-01-01 00:00:00.0") ==
      ((180L, 90L, bruteBits((0 until 90).map(_.toLong)))))
    assert(got("2024-01-01 01:00:00.0") == ((3L, 3L, bruteBits(Seq(50L, 51L, 52L)))))
    // the sketch can only undercount (collisions), never overcount
    got.values.foreach { case (_, exact, bits) => assert(bits <= exact && bits > 0) }
  }

  test("heavyHitters: count-min estimates equal brute force and never undercount") {
    val s = spark
    import s.implicits._
    val d = 4; val w = 16
    def ts(i: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:${i % 60}%02d:00")
    // user u occurs (u+1) times, u in 0..11 — forced collisions at w=16
    val rows = (0 until 12).flatMap(u => (0 to u).map(r =>
      ((u * 100 + r).toLong, ts(r), u.toLong, "a", 0.0, "{}")))
    val events = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.ops.Events.heavyHitters(events, d, w, topN = 12).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // brute-force counter matrix
    val counts = (0 until 12).map(u => u.toLong -> (u + 1).toLong).toMap
    def bucket(i: Int, u: Long) = graft.sig.Signatures.hash60(s"cms:$i:$u") % w
    val cells = scala.collection.mutable.Map.empty[(Int, Long), Long].withDefaultValue(0L)
    counts.foreach { case (u, c) => (0 until d).foreach(i => cells((i, bucket(i, u))) += c) }
    counts.foreach { case (u, c) =>
      val est = (0 until d).map(i => cells((i, bucket(i, u)))).min
      assert(got(u) == ((c, est)), s"user $u: got ${got(u)}, want ($c, $est)")
      assert(est >= c, "count-min never undercounts")
    }
  }

  test("topPaths: first-k path strings, counts, deterministic cut") {
    val s = spark
    import s.implicits._
    def ts(i: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:${i % 60}%02d:00")
    // user 1: a>b>c>d>e>f (only first 5 kept); users 2,3: a>b; user 4: b
    val rows =
      (0 until 6).map(i => (i.toLong, ts(i), 1L, ('a' + i).toChar.toString, 0.0, "{}")) ++
      Seq((10L, ts(0), 2L, "a", 0.0, "{}"), (11L, ts(1), 2L, "b", 0.0, "{}"),
        (12L, ts(0), 3L, "a", 0.0, "{}"), (13L, ts(1), 3L, "b", 0.0, "{}"),
        (14L, ts(0), 4L, "b", 0.0, "{}"))
    val events = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.ops.Events.topPaths(events, k = 5, topN = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("a>b", 2L, 2L), ("a>b>c>d>e", 5L, 1L)),
      s"expected deterministic (count desc, path) order, got $got")
  }
}
