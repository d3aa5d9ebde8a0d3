package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.block.Blocking
import graft.gen.ImageGen
import graft.model.DedupConfig

/** Physical-plan quality gates: the properties that matter at 100 TB must
  * be visible in `explain` — column pruning reaching the parquet scan (the
  * binary payload must not be read by payload-free stages), codegen spans
  * around the scoring arithmetic, and skew counters counting what the caps
  * drop.
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("plan-spec")
      .config("spark.sql.shuffle.partitions", "4")
      // AQE wraps the plan in AdaptiveSparkPlan and hides codegen spans
      // from the pre-execution explain; disable it so the spec can assert
      // on the static physical plan
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  lazy val inputPath: String = {
    val dir = Files.createTempDirectory("graft-plan").toString
    ImageGen.asImages(ImageGen.generate(spark, 300L, 42L, 4))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("payload-free projection prunes bytes at the parquet scan") {
    val images = spark.read.parquet(inputPath)
    val slim = images.select(col("image_id"), col("caption"), col("fmt"),
      col("w"), col("h"), col("phash"))
    val plan = formatted(slim)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("bytes"),
      s"bytes must be pruned from the scan: $readSchema")
    assert(readSchema.contains("caption"))
  }

  test("predicate pushdown reaches the scan") {
    val images = spark.read.parquet(inputPath).where(col("fmt") === "png")
      .select(col("image_id"))
    val plan = formatted(images)
    assert(plan.contains("PushedFilters") &&
      plan.linesIterator.exists(l => l.contains("PushedFilters") && l.contains("fmt")),
      "fmt filter must be pushed to parquet")
  }

  test("verify stage runs inside whole-stage codegen") {
    val images = spark.read.parquet(inputPath)
    val cfg = DedupConfig()
    val feats = graft.app.Pipeline.features(images, cfg)
    val cands = graft.app.Pipeline.candidates(feats, cfg)
    val scored = graft.app.Pipeline.classified(feats, cands, cfg)
    val plan = formatted(scored.toDF())
    // formatted mode marks codegen'd operators with '*' / "[codegen id :"
    assert(plan.contains("[codegen id :") || plan.contains("WholeStageCodegen"),
      "scoring must be codegen'd")
    assert(plan.linesIterator.exists(l => l.trim.startsWith("* BroadcastHashJoin") ||
      l.trim.startsWith("+- * BroadcastHashJoin") || l.contains("* BroadcastHashJoin")),
      "small feature sides should broadcast into the pair join")
  }

  test("verify is one kernel call in the generated classify code, with no Scala UDF") {
    val images = spark.read.parquet(inputPath)
    val cfg = DedupConfig()
    val feats = graft.app.Pipeline.features(images, cfg)
    val scored = graft.app.Pipeline.classified(feats,
      graft.app.Pipeline.candidates(feats, cfg), cfg).toDF()
    val udfs = scored.queryExecution.optimizedPlan.collect {
      case p => p.expressions.flatMap(_.collect {
        case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u
      })
    }.flatten
    assert(udfs.isEmpty, s"classify must not contain Scala UDFs: $udfs")
    // the three verdict fields share one kernel evaluation per row
    val code = org.apache.spark.sql.execution.debug.codegenString(scored.queryExecution.executedPlan)
    val calls = "graft\\.classify\\.Verify\\.classify\\(".r.findAllMatchIn(code).size
    assert(calls == 1, s"expected one Verify.classify call in the generated code, saw $calls")
  }

  test("feature stage is UDF-free and a single codegen span") {
    val images = spark.read.parquet(inputPath)
    val feats = graft.app.Pipeline.features(images, DedupConfig())
    // no boxed Scala UDFs anywhere in the signature/feature plan — the
    // kernels are native Catalyst expressions (graft.functions.SigExprs)
    val udfs = feats.queryExecution.optimizedPlan.collect {
      case p => p.expressions.flatMap(_.collect {
        case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u
      })
    }.flatten
    assert(udfs.isEmpty, s"feature stage must not contain Scala UDFs: $udfs")
    // and the whole projection compiles into ONE codegen span over the scan
    val plan = formatted(feats)
    val spans = "\\[codegen id : (\\d+)\\]".r.findAllMatchIn(plan).map(_.group(1)).toSet
    assert(spans == Set("1"), s"feature projection should be one codegen span, saw $spans:\n$plan")
  }

  test("ANN corpus-side stages (SRP bucketing, IVF cell assignment) are UDF-free") {
    import spark.implicits._
    val vecs = (0L until 64L)
      .map(i => (i, Array.tabulate(64)(d => ((i * 31 + d) % 13).toFloat / 13f).toSeq))
      .toDF("vec_id", "embedding")
    def assertNoUdf(df: org.apache.spark.sql.DataFrame, what: String): Unit = {
      val udfs = df.queryExecution.optimizedPlan.collect {
        case p => p.expressions.flatMap(_.collect {
          case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u
        })
      }.flatten
      assert(udfs.isEmpty, s"$what must not contain Scala UDFs: $udfs")
    }
    // the two O(corpus) index-build maps — native AnnExprs since round 3
    assertNoUdf(graft.ops.Embeddings.lshBuckets(vecs, 64, 16, 8, 42L), "SRP bucketing")
    val cellOf = graft.ops.Embeddings.ivfCellAssigner(
      graft.ops.Embeddings.ivfCentroids(16, 64, 42L), 1)
    assertNoUdf(vecs.select(col("vec_id"), explode(cellOf(col("embedding"))).as("cell")),
      "IVF cell assignment")
  }

  test("flagship blocking pairs string ids without a higher-order function") {
    val images = spark.read.parquet(inputPath)
    val cfg = DedupConfig()
    val cands = graft.app.Pipeline.candidates(
      graft.app.Pipeline.features(images, cfg), cfg)
    // image_id is a string: the pair expansion must still be the codegen'd
    // kernel, not the interpreted transform/slice lambda chain
    val hofs = cands.queryExecution.optimizedPlan.collect {
      case p => p.expressions.flatMap(_.collect {
        case f: org.apache.spark.sql.catalyst.expressions.LambdaFunction => f
        case f: org.apache.spark.sql.catalyst.expressions.ArrayTransform => f
      })
    }.flatten
    assert(hofs.isEmpty, s"candidates must not contain higher-order functions: $hofs")
  }

  test("snmPairsScalable emits exactly the snmPairs pair set (boundaries included)") {
    import spark.implicits._
    // keys with heavy ties + nulls, ids out of order; 4 partitions forces
    // many range boundaries at n=200 so cross-boundary pairs are exercised
    val rng = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      (i.toLong, if (i % 17 == 0) null else s"k${rng.nextInt(40)}")
    }
    val df = rows.toDF("id", "key")
    for (w <- Seq(2, 3, 5)) {
      val global = Blocking.snmPairs(df, "id", col("key"), w)
        .as[(Long, Long)].collect().toSet
      val scalable = Blocking.snmPairsScalable(df, "id", col("key"), w, numPartitions = 4)
        .as[(Long, Long)].collect().toSet
      assert(scalable == global, s"pair sets differ at window $w")
      assert(!scalable.exists(p => p._1 == p._2), "no self-pairs")
    }
  }

  test("substring fallback (probe keys past the collect bound) emits the same pair set") {
    import spark.implicits._
    // planted containments: short texts embedded in longer ones, plus junk
    val rng = new scala.util.Random(11)
    val shorts = (0 until 40).map(i =>
      (s"s$i%03d", (0 until 6 + rng.nextInt(5)).map(_ => ('a' + rng.nextInt(4)).toChar).mkString))
    val longs = shorts.zipWithIndex.map { case ((_, t), i) =>
      (f"l$i%03d", s"xx$t yy zz$i")
    }
    val junk = (0 until 60).map(i => (f"j$i%03d", s"qqq${rng.nextInt(100000)}www$i"))
    val df = (shorts ++ longs ++ junk).toDF("id", "norm")
    val k = 5
    val collected = Blocking.substringPairs(df, "id", "norm", k)
    val sharded = Blocking.substringPairs(df, "id", "norm", k, maxCollectedKeys = 0)
    // the threshold switch exists: the bounded path plans the native
    // merge-scan expression, the fallback must NOT (it's the distributed
    // inverted-index join with no driver-collected state)
    assert(collected.queryExecution.executedPlan.toString.toLowerCase
      .contains("keysinsortedset"), "default path should use KeysInSortedSet")
    assert(!sharded.queryExecution.executedPlan.toString.toLowerCase
      .contains("keysinsortedset"), "fallback must not collect probe keys")
    val a = collected.as[(String, String)].collect().toSet
    val b = sharded.as[(String, String)].collect().toSet
    assert(a.nonEmpty, "planted containments must produce pairs")
    assert(a == b, s"pair sets differ: only-default=${a -- b} only-fallback=${b -- a}")
  }

  test("catalog SNM plan has no single-partition Window") {
    val cust = spark.range(0, 100).selectExpr("id AS c_custkey", "concat('n', id % 7) AS c_name")
    val plan = formatted(Blocking.snmPairsScalable(cust, "c_custkey", col("c_name"), 3))
    assert(!plan.contains("Window"), "scalable SNM must not plan a Window operator")
  }

  test("sessionize windows are user-partitioned (no global Window)") {
    import spark.implicits._
    val ev = (0L until 50L)
      .map(i => (i, new java.sql.Timestamp(i * 1000), i % 5, i.toDouble))
      .toDF("event_id", "ts", "user_id", "value")
    val plan = formatted(graft.ops.Events.sessionize(ev))
    // every Window in the plan must carry a partition spec — the WindowExec
    // warning path ("No Partition Defined") is a driver-sized sort at scale
    val windows = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.nonEmpty, "sessionize should plan windows")
    assert(!plan.contains("No Partition Defined"))
    val specLine = plan.linesIterator
      .find(l => l.contains("windowspecdefinition")).getOrElse("")
    assert(specLine.contains("user_id"),
      s"window must partition by user_id: $specLine")
  }

  test("dd_semantic corpus stages are UDF-free and pair within cells only") {
    import spark.implicits._
    val vecs = (0L until 64L)
      .map(i => (i, Array.tabulate(64)(d => ((i * 31 + d) % 13).toFloat / 13f).toSeq))
      .toDF("vec_id", "embedding")
    val df = graft.ops.Embeddings.semanticPairs(vecs, 0.4)
    val udfs = df.queryExecution.optimizedPlan.collect {
      case p => p.expressions.flatMap(_.collect {
        case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u
      })
    }.flatten
    assert(udfs.isEmpty, s"semantic pairs must not contain Scala UDFs: $udfs")
    // the join is keyed on cell (bounded buckets), not a cross product
    val plan = formatted(df)
    assert(!plan.contains("CartesianProduct"),
      "within-cell pairing must be a keyed join, not a cross product")
  }

  test("PQ corpus encode is UDF-free (native PqEncode/PqAdcDist kernels)") {
    import spark.implicits._
    val vecs = (0L until 32L)
      .map(i => (i, Array.tabulate(64)(d => ((i * 17 + d) % 11).toFloat / 11f).toSeq))
      .toDF("vec_id", "embedding")
    val cb = graft.ops.Embeddings.pqCodebooks(8, 16, 8, seed = 7L)
    val queries = vecs.where($"vec_id" % 8 === 0)
    Seq(
      graft.ops.Embeddings.pqRerankTopK(vecs, queries, 5, cb),
      graft.ops.Embeddings.ivfPqTopK(vecs, queries, 5, cb, shortlist = 20)
    ).foreach { df =>
      val udfs = df.queryExecution.optimizedPlan.collect {
        case p => p.expressions.flatMap(_.collect {
          case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u
        })
      }.flatten
      assert(udfs.isEmpty, s"PQ path must not contain Scala UDFs: $udfs")
      assert(!formatted(df).contains("CartesianProduct"))
    }
  }

  test("ta_winnow is a shuffle-free codegen'd row map") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-winnow").toString
    (0L until 50L).map(i => (i, s"some document text number $i with words"))
      .toDF("doc_id", "norm").write.mode("overwrite").parquet(dir)
    val out = graft.ops.TextAnalysis.winnow(spark.read.parquet(dir), "norm", 8, 4)
    val plan = formatted(out)
    assert(!plan.contains("Exchange"),
      s"winnowing is per-row — it must not shuffle:\n$plan")
    // one codegen span over the scan: kernel, size, and digest all compile
    val spans = "\\[codegen id : (\\d+)\\]".r.findAllMatchIn(plan).map(_.group(1)).toSet
    assert(spans == Set("1"), s"winnow should be one codegen span, saw $spans:\n$plan")
  }

  test("q2_join: nation rides a broadcast join, never a shuffle") {
    val plan = formatted(graft.Queries.q2Join(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("BroadcastHashJoin"),
      s"tiny dimension must broadcast:\n$plan")
    assert(!plan.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning(n_nationkey")),
      s"nation must never shuffle:\n$plan")
  }

  test("ev_approx_users: bitmap words partial-combine map-side; no single-partition stage") {
    import spark.implicits._
    val ev = (0L until 300L)
      .map(i => (i, new java.sql.Timestamp(i * 60000), i % 40, "a"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val plan = formatted(graft.ops.Events.approxUsers(ev, 4096))
    // the scale claim: bitmap words OR-merge BEFORE the exchange
    assert(plan.contains("partial_bit_or"),
      s"bit_or must partial-aggregate map-side:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"no stage may collapse to one partition:\n$plan")
  }

  test("ev_heavy_hitters: counter build partial-combines; top-N never global-sorts") {
    import spark.implicits._
    val ev = (0L until 300L)
      .map(i => (i, new java.sql.Timestamp(i * 60000), i % 40, "a"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val plan = formatted(graft.ops.Events.heavyHitters(ev, 4, 64, 20))
    assert(plan.contains("TakeOrderedAndProject"),
      s"topN cut must plan as TakeOrderedAndProject, not a global sort:\n$plan")
    assert(!plan.linesIterator.exists(l => l.trim.startsWith("Sort ") &&
      !l.contains("TakeOrdered")),
      s"no standalone global sort:\n$plan")
    assert(plan.contains("partial_count"),
      s"counter cells must partial-aggregate map-side:\n$plan")
  }

  test("ds_sample is a shuffle-free map-side filter") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-docs").toString
    (0L until 100L).map(i => (i, if (i % 2 == 0) "en" else "xx"))
      .toDF("doc_id", "lang").write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)
    val sampled = graft.ops.Sampling.stratified(
      docs, col("doc_id"), col("lang"), Map("en" -> 50), 20)
    val plan = formatted(sampled)
    assert(!plan.contains("Exchange"),
      s"deterministic sampling must not shuffle:\n$plan")
    assert(plan.contains("Filter"), "keep decision must be a plain filter")
  }

  test("ds_split is a shuffle-free row-local map") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-split").toString
    (0L until 100L).map(i => (i, "en")).toDF("doc_id", "lang")
      .write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)
    val plan = formatted(graft.ops.Sampling.split(
      docs, col("doc_id"), Seq("train" -> 90, "val" -> 5, "test" -> 5)))
    assert(!plan.contains("Exchange"),
      s"deterministic split must not shuffle:\n$plan")
  }

  test("funnel plans exactly ONE exchange (stage chain rides a single user_id partitioning)") {
    import spark.implicits._
    val ev = (0L until 200L)
      .map(i => (i, new java.sql.Timestamp(i * 1000), i % 20,
        Seq("signup", "view", "click", "purchase")(Math.floorMod(i, 4).toInt)))
      .toDF("event_id", "ts", "user_id", "event_type")
    val plan = formatted(graft.ops.Events.funnel(ev))
    val exchanges = plan.linesIterator.count(l =>
      l.contains(") Exchange") || l.trim.startsWith("Exchange"))
    assert(exchanges == 1,
      s"stage windows and the final agg must share one user_id exchange, got $exchanges:\n$plan")
    assert(!plan.contains("No Partition Defined"))
    assert(!plan.contains("Join"), s"window form must plan no joins:\n$plan")
  }

  test("retention plans two exchanges: user_id window feeds the distinct, then the rollup") {
    import spark.implicits._
    val ev = (0L until 200L)
      .map(i => (new java.sql.Timestamp(86400000L * (i % 9)), i % 20,
        if (i % 4 == 0) "signup" else "view"))
      .toDF("ts", "user_id", "event_type")
    val plan = formatted(graft.ops.Events.retention(ev))
    val exchanges = plan.linesIterator.count(l =>
      l.contains(") Exchange") || l.trim.startsWith("Exchange"))
    assert(exchanges == 2,
      s"distinct must reuse the window's user_id partitioning, got $exchanges:\n$plan")
    assert(!plan.contains("Join"), s"window form must plan no joins:\n$plan")
  }

  test("dd_dupspan plans three exchanges: df agg on g, join probe on g, " +
    "per-doc rollup — the join reuses the agg's partitioning") {
    import spark.implicits._
    // force the SMJ shape the corpus-scale plan has: the df side is itself
    // corpus-sized there, so a broadcast (which tiny test stats would pick)
    // is exactly the plan that must NOT be assumed
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = (0L until 50L)
        .map(i => (i, s"w${i % 7} w${(i + 1) % 7} w${(i + 2) % 7} tail$i"))
        .toDF("doc_id", "text")
      val plan = formatted(graft.ops.TextAnalysis.dupSpans(docs, "text", 2))
      val exchanges = plan.linesIterator.count(l =>
        l.contains(") Exchange") || l.trim.startsWith("Exchange"))
      assert(exchanges == 3,
        s"df agg + join probe + doc rollup must be the only shuffles, got $exchanges:\n$plan")
      assert(!plan.contains("Exchange SinglePartition"),
        s"no single-partition stage anywhere:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("ta_pii is a shuffle-free codegen'd row map") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-pii").toString
    graft.gen.PiiGen.generate(spark, 50L, seed = 17L).toDF()
      .write.mode("overwrite").parquet(dir)
    val plan = formatted(graft.ops.TextAnalysis.piiScan(spark.read.parquet(dir), "text"))
    assert(!plan.contains("Exchange"), s"PII scan must not shuffle:\n$plan")
    assert(plan.contains("[codegen id :") || plan.contains("WholeStageCodegen"),
      s"regex scan must run inside whole-stage codegen:\n$plan")
  }

  test("dd_url plans one exchange: row-local canonicalize, partial-agg dedup") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-url").toString
    graft.gen.UrlGen.generate(spark, 50L, seed = 23L).toDF()
      .select(col("url_id"), col("url"))
      .write.mode("overwrite").parquet(dir)
    val plan = formatted(graft.ops.Urls.dedup(spark.read.parquet(dir), "url", "url_id"))
    val exchanges = plan.linesIterator.count(l =>
      l.contains(") Exchange") || l.trim.startsWith("Exchange"))
    assert(exchanges == 1, s"canonicalize must stay map-side, got $exchanges:\n$plan")
    assert(plan.contains("[codegen id :") || plan.contains("WholeStageCodegen"))
  }

  test("ds_pack window runs bucket-partitioned with broadcast offsets — " +
    "never a single-partition global sort") {
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, i % 50 + 1)).toDF("doc_id", "n_tok")
    val plan = formatted(
      graft.ops.Packing.packChunks(docs, "doc_id", col("n_tok"), 64L, buckets = 8))
    assert(!plan.contains("Exchange SinglePartition"),
      s"global-window shape would serialize the corpus on one task:\n$plan")
    assert(plan.contains("Window"), s"expected a window stage:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket offsets must broadcast:\n$plan")
  }

  test("ev_windows explodes covering windows map-side: no join, no " +
    "single-partition exchange; ev_transitions reuses one user_id exchange") {
    import spark.implicits._
    import java.sql.Timestamp
    val ev = (0L until 200L).map(i =>
        (i, new Timestamp(i * 737000L), i % 20, if (i % 3 == 0) "view" else "click", i * 1.5))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val win = formatted(graft.ops.Events.hoppingWindows(ev, 3600L, 900L))
    assert(!win.contains("Join"), s"covering windows must not join:\n$win")
    assert(!win.contains("Exchange SinglePartition"), s"\n$win")
    assert(win.contains("Expand") || win.contains("Generate") || win.contains("explode"),
      s"expected a map-side window explode:\n$win")
    val tr = formatted(graft.ops.Events.transitions(ev))
    val exchanges = tr.linesIterator.count(l =>
      l.contains(") Exchange") || l.trim.startsWith("Exchange"))
    // lead() window partitioning + the distinct-count rollup: bounded
    // exchange count, none of them single-partition
    assert(!tr.contains("Exchange SinglePartition"), s"\n$tr")
    assert(exchanges <= 3, s"expected <= 3 exchanges, got $exchanges:\n$tr")
  }

  test("ta_oov scores via a broadcast dictionary; dd_decontam via broadcast eval grams") {
    import spark.implicits._
    val docs = (0L until 50L)
      .map(i => (i, if (i % 2 == 0) "en" else "fr", s"tok$i the a of and"))
      .toDF("doc_id", "lang", "text")
    val oov = formatted(graft.ops.TextAnalysis.oovScore(docs, "text", vocabK = 3))
    assert(oov.contains("BroadcastHashJoin"),
      s"vocabulary must broadcast into the scoring join:\n$oov")
    assert(!oov.contains("CartesianProduct"))
    val dec = formatted(graft.ops.TextAnalysis.decontaminate(
      docs, "text", col("doc_id") % 10 === 0, n = 2))
    assert(dec.contains("BroadcastHashJoin"),
      s"eval grams must broadcast into the training scan:\n$dec")
    assert(!dec.contains("CartesianProduct"))
  }

  test("ta_vocab top-k is two-phase: partition-local prune before the per-lang window") {
    import spark.implicits._
    val docs = Seq(("en", "a b c"), ("fr", "a a b")).toDF("lang", "text")
    val plan = formatted(graft.ops.TextAnalysis.topTokens(docs, "text", k = 5))
    val windows = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    // two distinct window stages: the pruning one additionally keyed by the
    // physical partition id, so no per-language single-task sort exists
    assert(plan.contains("SPARK_PARTITION_ID") || plan.contains("spark_partition_id"),
      s"pruning window must be keyed by the physical partition id:\n$plan")
    val windowExecs = plan.linesIterator.count(l => l.trim.startsWith("Window") ||
      l.contains(" Window "))
    assert(windowExecs >= 2 || windows.size >= 2,
      s"expected the two-phase window pair:\n$plan")
    assert(!plan.contains("No Partition Defined"))
  }

  test("bucket stats count dropped skew buckets and forfeited pairs") {
    import spark.implicits._
    val keyed = (Seq.fill(100)("hot") ++ Seq("a", "a", "b")).zipWithIndex
      .map { case (k, i) => (i.toString, k) }
      .toDF("id", "key")
    val stats = Blocking.bucketStats(keyed, cap = 10).head()
    assert(stats.getLong(0) == 3)          // buckets: hot, a, b
    assert(stats.getLong(1) == 1)          // dropped: hot
    assert(stats.getLong(2) == 100L * 99 / 2) // forfeited pairs
    assert(stats.getLong(3) == 100)
    // and the pairing respects the cap
    val pairs = Blocking.pairsFromKeys(keyed, Some(10)).count()
    assert(pairs == 1, "only the a-a pair survives the cap")
  }

  test("dd_paragraph arbitration plane is slim: bounded exchanges, " +
    "no single-partition stage, text joined back once by doc_id") {
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = (0L until 60L)
        .map(i => (i, s"w${i % 5} w${(i + 1) % 5} w${(i + 2) % 5} t$i u$i v$i"))
        .toDF("doc_id", "text")
      val plan = formatted(graft.ops.TextAnalysis.paragraphDedup(docs, "text", 3))
      val exchanges = plan.linesIterator.count(l =>
        l.contains(") Exchange") || l.trim.startsWith("Exchange"))
      // first-occurrence agg on g + join probe on g + per-doc rollup +
      // the one text re-attach join on doc_id (both sides repartition)
      assert(exchanges <= 5, s"expected <= 5 exchanges, got $exchanges:\n$plan")
      assert(!plan.contains("Exchange SinglePartition"),
        s"no single-partition stage anywhere:\n$plan")
      assert(!plan.contains("CartesianProduct"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("ta_ngram_lm: model broadcasts into the scoring join; top-k plans " +
    "as TakeOrderedAndProject, never a global sort") {
    import spark.implicits._
    val docs = (0L until 40L)
      .map(i => (i, s"a b a b w${i % 7} w${(i + 1) % 7}"))
      .toDF("doc_id", "text")
    val plan = formatted(graft.ops.TextAnalysis.ngramLmScore(docs, "text", k = 4))
    assert(plan.contains("BroadcastHashJoin"),
      s"the k-row model must broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be per-partition + driver merge, not a sort:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("keeplist election is an aggregate, never a per-cluster window — " +
    "giant clusters cost a combiner cell, not a task") {
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val assign = (0L until 300L).map(i => (s"im$i", i % 7)).toDF("image_id", "cluster_id")
      val scores = (0L until 300L).map(i => (s"im$i", i * 31 % 97)).toDF("image_id", "n_px")
      val plan = formatted(graft.ops.Keeplist.elect(assign, scores, "image_id", "n_px"))
      assert(!plan.contains("Window"),
        s"election must be an argmin aggregate, not a window:\n$plan")
      assert(!plan.contains("Exchange SinglePartition"), s"plan:\n$plan")
      assert(!plan.contains("CartesianProduct"))
      assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"),
        s"expected an aggregate election:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("cdc dedup: chunk text never shuffles, first-wins is an aggregate " +
    "join (no window), no cartesian") {
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = (0L until 60L)
        .map(i => (i, s"repeated shared prefix text block number ${i % 5} " +
          s"with a unique tail segment $i"))
        .toDF("doc_id", "norm")
      val plan = formatted(
        graft.ops.TextAnalysis.cdcDedup(docs, "norm", 8, 16))
      assert(!plan.contains("Window"),
        s"first-wins must be an argmin aggregate, not a window:\n$plan")
      assert(!plan.contains("CartesianProduct"))
      assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"))
      // the shuffle plane carries hashes and lengths, never chunk strings:
      // no Exchange row mentions the exploded chunk column
      val exchanges = plan.linesIterator.filter(_.contains("Exchange")).mkString("\n")
      assert(!exchanges.contains("col#"),
        s"chunk text must not appear in any exchange:\n$exchanges")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("curation imageFilter is a pure narrow map: zero exchanges, " +
    "whole-stage codegen, no UDF") {
    val rows = spark.read.parquet(inputPath)
      .select(col("image_id"), col("w"), col("h"), col("caption"))
    val plan = formatted(graft.ops.Curation.imageFilter(
      rows, 2500L, 3, 2, 10, 64))
    assert(!plan.contains("Exchange"), s"filter must add no shuffle:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"no UDF in the filter path:\n$plan")
    // formatted mode marks whole-stage-codegen nodes with a leading '*'
    assert(plan.contains("* Project"), s"filter must stay in codegen:\n$plan")
    // bytes pruned: the filter's scan reads only the metadata columns
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("bytes"), s"scan must prune bytes: $readSchema")
  }

  test("partitioned checkpoint: a filtered resume prunes to matching partitions at the scan") {
    import spark.implicits._
    val work = Files.createTempDirectory("graft-cp-part").toString
    val cp = new graft.app.Checkpoints(spark, work)
    val df = (0L until 200L).toDF("id")
      .withColumn("cluster_id", col("id") % 50)
      .withColumn("pb", pmod(xxhash64(col("id")), lit(16)).cast("int"))
    cp.stage("t_assign", partitionBy = Seq("pb"))(df)
    val resume = cp.load("t_assign").where(col("pb") === 3)
    val plan = formatted(resume)
    // the pb predicate must land in PartitionFilters (directory pruning),
    // not PushedFilters/post-scan Filter (row skipping after listing)
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("pb") && pf.contains("3"),
      s"pb=3 must prune partitions at the scan:\n$plan")
    // physical evidence: the pruned scan holds exactly ONE selected
    // partition directory vs 16 unfiltered
    def partDirs(d: org.apache.spark.sql.DataFrame): Long = {
      val scan = d.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
      scan.relation.location.listFiles(
        scan.partitionFilters, scan.dataFilters).size.toLong
    }
    assert(partDirs(resume) == 1L,
      s"filtered resume must scan 1 partition, scanned ${partDirs(resume)}")
    assert(partDirs(cp.load("t_assign")) > 1L)
  }

  test("incrementalAssignDelta: the standing assignment table is never " +
    "shuffled or broadcast wholesale — it streams map-side through " +
    "broadcast joins, and the untouched branch reaches the output " +
    "exchange-free") {
    import spark.implicits._
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    // standing table from parquet so its scan is identifiable in the plan
    val standingDir = Files.createTempDirectory("graft-standing").toString
    (0L until 1000L).map(i => (i, i - (i % 10)))
      .toDF("id", "cluster_id").write.mode("overwrite").parquet(standingDir)
    val standing = spark.read.parquet(standingDir)
    val newIds = (10000L until 10050L).toDF("id")
    val newEdges = Seq((10000L, 7L), (10001L, 23L), (10002L, 10003L))
      .toDF("id1", "id2")
    val out = graft.cluster.ConnectedComponents
      .incrementalAssignDelta(standing, newIds, newEdges)
    val plan = out.queryExecution.executedPlan
    def isStandingScan(p: SparkPlan): Boolean = p match {
      case f: FileSourceScanExec =>
        f.metadata.get("Location").exists(_.contains("graft-standing"))
      case _ => false
    }
    // a standing scan below an Exchange is acceptable ONLY if a broadcast
    // join sits between them: the broadcast side filters the standing rows
    // to the delta-sized subset BEFORE anything flows into the exchange
    def unguardedStandingScan(p: SparkPlan): Boolean = p match {
      case f if isStandingScan(f) => true
      case _: BroadcastHashJoinExec => false
      case other => other.children.exists(unguardedStandingScan)
    }
    val offenders = plan.collect {
      case e: Exchange if e.children.exists(unguardedStandingScan) => e
    }
    assert(offenders.isEmpty,
      s"standing table flows unfiltered into an exchange:\n${offenders.headOption.getOrElse("")}")
    // the untouched pass-through branch: root -> standing scan crossing no
    // Exchange at all (the 100 TB property — an unmerged corpus row costs
    // zero network)
    def exchangeFreePath(p: SparkPlan): Boolean =
      isStandingScan(p) ||
        (!p.isInstanceOf[Exchange] && p.children.exists(exchangeFreePath))
    assert(exchangeFreePath(plan),
      s"no exchange-free path from output to the standing scan:\n$plan")
  }

  test("connected components under the driver-finish bound start at most 2 jobs") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val rnd = new scala.util.Random(3)
    val edges = Seq.fill(400)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .toDF("src", "dst")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      graft.cluster.ConnectedComponents.run(edges)
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    // one count, then one collect that the driver finishes from
    assert(jobs.get <= 2, s"CC on a 400-edge graph started ${jobs.get} jobs")
  }

  test("ds_shuffle rides the two-phase prefix sum: bucketed window + " +
    "broadcast offsets, no global sort, no single-partition stage") {
    import spark.implicits._
    val docs = (0L until 200L).toDF("doc_id")
    val plan = formatted(
      graft.ops.Sampling.globalShuffle(docs, col("doc_id"), nShards = 4, buckets = 8))
    assert(!plan.contains("Exchange SinglePartition"),
      s"global-window shape would serialize the corpus on one task:\n$plan")
    assert(plan.contains("Window"), s"expected a window stage:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket offsets must broadcast:\n$plan")
  }
}
