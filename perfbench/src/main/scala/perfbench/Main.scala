package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.app.Pipeline
import graft.block.Blocking
import graft.gen.ImageGen
import graft.model.{Classification, DedupConfig, ImageRecord}

/** One benchmark run of a flagship workload, in one JVM.
  *
  * The run warms up once (SparkSession, input generation, one untimed pass),
  * then runs passes until `--seconds` of measuring would be exceeded. Before
  * every pass it sets up: it stops the SparkSession, starts a fresh one (so
  * no persisted frame, cached RDD or shuffle file carries over) and
  * regenerates the seeded input. Each pass then runs over that input and its
  * output is checked:
  *  - a plain pass calls `Pipeline.run` and materialises both of
  *    its results (the cluster assignment and the canonical rows);
  *  - a traced pass calls the six stage functions itself, each in its own
  *    Spark job group with [[GroupListener]] attached, and materialises each
  *    stage at its boundary.
  * With `--trace 1` the passes alternate plain and traced, so the
  * run also measures what tracing costs. Raw samples go to `--out` as JSON;
  * `run.py` turns them into metrics.
  */
object Main {

  private val MAD = StorageLevel.MEMORY_AND_DISK

  final case class Opts(workload: String, seed: Long, rows: Long, seconds: Double,
                        trace: Boolean, cores: Int, workDir: String, out: String)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("rows").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("cores").toInt, kv("work-dir"), kv("out"))
    require(Set("flagship_dup", "flagship_unique").contains(o.workload),
      s"unknown workload ${o.workload}")
    val cfg = DedupConfig()
    val input = s"${o.workDir}/input"
    val iterations = mutable.ArrayBuffer.empty[String]
    val envelope = mutable.LinkedHashMap[String, Any](
      "rows" -> o.rows, "java_version" -> System.getProperty("java.version"))

    var spark = session(o)
    envelope("spark_version") = spark.version
    val w0 = System.nanoTime()
    generate(spark, o, input)
    envelope("warmup_generate_s") = (System.nanoTime() - w0) / 1e9
    val w1 = System.nanoTime()
    run(spark, input, cfg) // warm-up pass: class loading, codegen, JIT
    envelope("warmup_pass_s") = (System.nanoTime() - w1) / 1e9
    envelope("warmup_end_epoch_ms") = System.currentTimeMillis()

    val setups = mutable.ArrayBuffer.empty[Double]
    def setUp(): Unit = {
      val t0 = System.nanoTime()
      spark.stop()
      spark = session(o)
      generate(spark, o, input)
      setups += (System.nanoTime() - t0) / 1e9
    }
    val measureStart = System.nanoTime()
    var last = 0.0
    var i = 0
    def elapsed = (System.nanoTime() - measureStart) / 1e9
    // a traced run needs a plain pass to measure the tracing overhead against
    val minPasses = if (o.trace) 2 else 1
    while (i < minPasses || elapsed + last <= o.seconds) {
      val t0 = System.nanoTime()
      setUp()
      val traced = o.trace && i % 2 == 1
      val listener = if (traced) Some(new GroupListener) else None
      listener.foreach(spark.sparkContext.addSparkListener)
      val sample = mutable.LinkedHashMap[String, Any]("traced" -> traced)
      try {
        require(spark.sparkContext.getPersistentRDDs.isEmpty, "cached data carried over")
        val stat0 = Proc.cpuStat()
        val (result, layers) = listener match {
          case Some(l) => tracedPass(spark, input, cfg, l)
          case None => (timedPass(spark, input, cfg), Map.empty[String, Double])
        }
        sample("steal") = Proc.stealFraction(stat0, Proc.cpuStat())
        sample ++= result
        if (layers.nonEmpty) sample("layers") = layers
      } catch {
        case NonFatal(e) =>
          sample("errors") = Seq(s"pass threw ${e.getClass.getName}: ${e.getMessage}")
      }
      iterations += Json.obj(sample)
      last = (System.nanoTime() - t0) / 1e9
      i += 1
      // read after the same work in every run, however many passes follow
      if (i == 1) envelope("peak_rss_mb") = Proc.peakRssMb()
    }
    while (setups.length < 3) setUp() // setup_s is a median of three or more
    envelope("setups_s") = setups.toSeq
    spark.stop()
    envelope("iterations") = Json.Raw(iterations.mkString("[", ",", "]"))
    Files.write(Paths.get(o.out), Json.obj(envelope).getBytes(StandardCharsets.UTF_8))
  }

  /** Fixed session shape: `local[cores]`, one shuffle partition per core,
    * shuffle and spill files under the run's own work directory.
    */
  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.local.dir", s"${o.workDir}/spark-local")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** flagship_dup: the generator's default mix over `rows` rows.
    * flagship_unique: only the generator's original rows — record i of a
    * corpus large enough that all `rows` records are originals.
    */
  def generate(spark: SparkSession, o: Opts, path: String): Unit = {
    import spark.implicits._
    val parts = 2 * o.cores
    val ds =
      if (o.workload == "flagship_dup") ImageGen.generate(spark, o.rows, o.seed, parts)
      else {
        val seed = o.seed
        val n = (o.rows * 10 + 5) / 6
        spark.range(0, o.rows, 1, parts).mapPartitions(_.map(i => ImageGen.record(seed, i, n)))
      }
    ds.write.mode("overwrite").parquet(path)
  }

  private def images(spark: SparkSession, path: String): Dataset[ImageRecord] = {
    import spark.implicits._
    spark.read.parquet(path)
      .select("image_id", "bytes", "w", "h", "fmt", "caption", "phash").as[ImageRecord]
  }

  /** `Pipeline.run` with both results materialised; the assignment is
    * persisted so the canonical rows reuse it instead of recomputing it.
    */
  private def run(spark: SparkSession, path: String, cfg: DedupConfig)
      : (Array[(String, String)], Array[Pipeline.Canonical]) = {
    import spark.implicits._
    val (assign, canon) = Pipeline.run(spark, images(spark, path), cfg)
    assign.persist(MAD)
    (assign.select("id", "cluster_id").as[(String, String)].collect(), canon.collect())
  }

  private def timedPass(spark: SparkSession, path: String, cfg: DedupConfig)
      : Map[String, Any] = {
    val cpu0 = Proc.processCpuS()
    val t0 = System.nanoTime()
    val (assign, canon) = run(spark, path, cfg)
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Proc.processCpuS() - cpu0
    Map("wall_s" -> wall, "cpu_s" -> cpu) ++ check(spark, path, assign, canon)
  }

  private def check(spark: SparkSession, path: String, assign: Array[(String, String)],
                    canon: Array[Pipeline.Canonical]): Map[String, Any] = {
    import spark.implicits._
    val input = spark.read.parquet(path).select("image_id", "gold_cluster")
      .as[(String, String)].collect()
    val out = Checks.flagship(input, assign,
      canon.map(c => Checks.CanonRow(c.cluster_id, c.n_members, c.image_id)))
    Map("rows" -> input.length, "recall" -> out.recall, "precision" -> out.precision,
      "clusters" -> out.clusters, "gold_pairs" -> out.goldPairs,
      "predicted_pairs" -> out.predictedPairs, "errors" -> out.errors)
  }

  /** The six stages called one by one, each in its own job group and
    * materialised at its boundary, followed by untimed counts that explain
    * the blocking and verify stages (job group "extras").
    */
  private def tracedPass(spark: SparkSession, path: String, cfg: DedupConfig,
                         listener: GroupListener): (Map[String, Any], Map[String, Double]) = {
    import spark.implicits._
    val sc = spark.sparkContext
    val m = mutable.LinkedHashMap[String, Double]()
    val layerNames = Seq("features", "block", "classify", "cc", "refine", "fuse")
    def layer[A](name: String)(body: => A): A = {
      sc.setJobGroup(name, name)
      val t0 = System.nanoTime()
      try body
      finally {
        m(s"$name.wall_s") = (System.nanoTime() - t0) / 1e9
        sc.clearJobGroup()
      }
    }
    val gc0 = Proc.gcS()
    Proc.resetHeapPeaks()
    val df = images(spark, path).toDF()
    val feats = layer("features") {
      val f = Pipeline.features(df, cfg).persist(MAD); f.count(); f
    }
    // as in Pipeline.run: the payload-free fusion input, read by the fuse stage
    val slim = df.select(col("image_id"), col("caption"), col("fmt"),
      col("w"), col("h"), col("phash")).persist(MAD)
    val (cands, pairsOut) = layer("block") {
      val c = Pipeline.candidates(feats, cfg).persist(MAD); (c, c.count())
    }
    val scored = layer("classify") {
      val s = Pipeline.classified(feats, cands, cfg).persist(MAD); s.count(); s
    }
    val assign0 = layer("cc") {
      val a = Pipeline.cluster(feats, scored).persist(MAD); a.count(); a
    }
    val splits = sc.longAccumulator("refine.split_clusters")
    val assign = layer("refine") {
      val a = Pipeline.refine(assign0, feats, scored, cfg, splitCounter = Some(splits))
        .persist(MAD)
      a.count(); a
    }
    val canon = layer("fuse") { Pipeline.fuse(slim, assign).collect() }
    m("jvm.gc_s") = Proc.gcS() - gc0
    m("jvm.heap_peak_mb") = Proc.heapPeakMb()
    val stageSum = layerNames.map(l => m(s"$l.wall_s")).sum

    sc.setJobGroup("extras", "extras")
    val assignRows = assign.select("id", "cluster_id").as[(String, String)].collect()
    val dupEdges = canonicalPairs(
      scored.where(col("classification") === Classification.Duplicate).toDF()).persist(MAD)
    val nDup = dupEdges.count()
    val cap = Some(cfg.maxBucketSize)
    val keyed = Blocking.keyedUnion(feats, cfg).persist(MAD)
    // key namespaces of the keyed union: the top two bits tag the pass
    val tag = shiftrightunsigned(col("key"), 62)
    val passes = Seq(
      "lsh" -> Blocking.pairsFromKeys(keyed.where(tag === 0), cap),
      "simhash" -> Blocking.pairsFromKeys(keyed.where(tag === 1), cap),
      "phash" -> Blocking.pairsFromKeys(keyed.where(tag === 2), cap),
      "substring" -> Blocking.substringPairs(feats, "id", "norm", cfg.shingleK + 3, cap),
      "exact" -> Blocking.starPairsFromKeys(feats.select(col("id"), col("chash").as("key"))))
    passes.foreach { case (name, pairs) =>
      val p = canonicalPairs(pairs).persist(MAD)
      val n = p.count()
      val found = p.join(dupEdges, Seq("a", "b")).count()
      m(s"block.pairs.$name") = n.toDouble
      m(s"block.dup_yield.$name") = if (n == 0) 0.0 else found.toDouble / n
      p.unpersist(false)
    }
    val stats = Blocking.bucketStats(keyed, cfg.maxBucketSize).head()
    m("block.pairs_out") = pairsOut.toDouble
    m("block.buckets_dropped") = stats.getAs[Long]("n_dropped_buckets").toDouble
    m("block.pairs_dropped") = stats.getAs[Long]("pairs_dropped").toDouble
    m("classify.pairs_in") = pairsOut.toDouble
    m("classify.dup_edges") = nDup.toDouble
    m("classify.dup_yield") = if (pairsOut == 0) 0.0 else nDup.toDouble / pairsOut
    m("cc.clusters") = assign0.select("cluster_id").distinct().count().toDouble
    m("refine.split_clusters") = splits.value.toDouble
    m("fuse.rows_out") = canon.length.toDouble
    sc.clearJobGroup()

    org.apache.spark.perfbench.ListenerBusDrain(sc)
    layerNames.foreach { l =>
      val t = listener.totals(l)
      m(s"$l.cpu_s") = t.cpuNs / 1e9
      m(s"$l.shuffle_write_mb") = t.shuffleWriteBytes / 1e6
      m(s"$l.spill_mb") = t.spillBytes / 1e6
      m(s"$l.spark_jobs") = t.jobs.toDouble
    }
    (Map[String, Any]("stage_sum_s" -> stageSum) ++ check(spark, path, assignRows, canon),
      m.toMap)
  }

  private def canonicalPairs(pairs: DataFrame): DataFrame =
    pairs.select(least(col("id1"), col("id2")).as("a"), greatest(col("id1"), col("id2")).as("b"))
      .distinct()
}

/** Process and host readings for the run envelope and the JVM metrics. */
object Proc {
  private def read(path: String): String =
    try new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
    catch { case NonFatal(_) => "" }

  /** Aggregate jiffies of the host: (total, steal). */
  def cpuStat(): (Long, Long) =
    read("/proc/stat").linesIterator.find(_.startsWith("cpu ")) match {
      case Some(l) =>
        val f = l.split("\\s+").drop(1).take(8).map(_.toLong)
        (f.sum, if (f.length > 7) f(7) else 0L)
      case None => (0L, 0L)
    }

  def stealFraction(a: (Long, Long), b: (Long, Long)): Double =
    if (b._1 > a._1) (b._2 - a._2).toDouble / (b._1 - a._1) else 0.0

  def peakRssMb(): Double = read("/proc/self/status").linesIterator
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => -1.0
  }

  def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def resetHeapPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
}

/** Just enough JSON writing for the raw-sample file. */
object Json {
  final case class Raw(text: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case Raw(t) => t
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(m: scala.collection.Map[String, Any]): String =
    m.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
