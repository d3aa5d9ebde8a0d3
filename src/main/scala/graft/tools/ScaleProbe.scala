package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Bench
import graft.app.Pipeline
import graft.block.Blocking
import graft.gen.ImageGen
import graft.model.DedupConfig

/** Order-of-magnitude scale probe (round-3 verdict task 8): run the flagship
  * pipeline ONCE at n well beyond the bench point (default 4M rows, ~20 GB of
  * encoded images) and report the constants the bucket caps / CC loop /
  * substring collect were only ever measured at n<=600k:
  *
  *   - wall seconds + images/sec for the full 6-stage pipeline at `cores`
  *   - per-blocking-pass pairs, buckets dropped by the skew cap, pairs
  *     dropped, max bucket size (lsh / simhash / phash passes)
  *   - substring probe-key count (the driver-collect vs shard-switch input)
  *   - cluster count, max cluster size, singleton fraction
  *
  * Output: one JSON line on stdout AND written to SPARK_GRAFT_PROBE_OUT
  * (default scale_probe.json) so the numbers survive log truncation.
  *
  * Usage: runMain graft.tools.ScaleProbe [n] [cores] [genPartitions]
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(4000000L)
    val cores = args.lift(1).map(_.toInt).getOrElse(32)
    val genParts = args.lift(2).map(_.toInt).getOrElse(8 * cores)

    // ---- generate (untimed, embarrassingly parallel, resumable)
    val inputPath = s"/tmp/graft_bench_input_$n"
    if (!new java.io.File(inputPath, "_SUCCESS").exists()) {
      val gen = Bench.session(cores)
      val t0 = System.nanoTime()
      ImageGen.asImages(ImageGen.generate(gen, n, 42L, genParts))
        .write.mode("overwrite").parquet(inputPath)
      System.err.println(f"[probe] generated n=$n in ${(System.nanoTime() - t0) / 1e9}%.0f s")
      gen.stop()
    }
    val bytes = Bench.dirBytes(inputPath)

    // ---- timed pipeline run (one warm pass at tiny n for JIT/codegen)
    val spark = Bench.session(cores, bytes)
    import spark.implicits._
    val warmPath = Bench.ensureInput(spark, 2000L)
    Bench.pipelineRun(spark, warmPath)
    val t0 = System.nanoTime()
    val images = spark.read.parquet(inputPath).as[graft.model.ImageRecord]
    val cfg = DedupConfig()
    val (assign, canon) = Pipeline.run(spark, images, cfg)
    val nCanon = canon.count()
    val wall = (System.nanoTime() - t0) / 1e9
    val thr = n / wall

    // ---- cluster-shape stats (untimed; assign is persisted by run())
    val cl = assign.groupBy("cluster_id").count()
      .agg(count(lit(1)).as("clusters"), max(col("count")).as("max_cluster"),
        sum(when(col("count") === 1, 1L).otherwise(0L)).as("singletons"))
      .head()
    val (nClusters, maxCluster, singletons) =
      (cl.getLong(0), cl.getLong(1), cl.getLong(2))

    // ---- per-pass skew stats (untimed; recomputed from the feature stage)
    val feats = Pipeline.features(images.toDF(), cfg)
      .persist(StorageLevel.MEMORY_AND_DISK)
    feats.count()
    val passJsons = Blocking.keyedPasses(feats, cfg).map { case (name, keyed) =>
      val st = Blocking.bucketStats(keyed, cfg.maxBucketSize).head()
      val pairs = Blocking.pairsFromKeys(keyed, Some(cfg.maxBucketSize)).count()
      s""""$name":{"pairs":$pairs,"buckets":${st.getLong(0)},""" +
        s""""buckets_dropped":${st.getLong(1)},"pairs_dropped":${st.getLong(2)},""" +
        s""""max_bucket":${st.getLong(3)}}"""
    }
    // substring pass: the probe-key cardinality is the driver-collect bound
    val shortLen = cfg.shingleK + 3
    val nProbeKeys = feats
      .where(length(col("norm")).between(cfg.shingleK, shortLen)).count()
    val subPairs = Blocking.substringPairs(feats, "id", "norm", shortLen,
      Some(cfg.maxBucketSize)).count()
    val unionPairs = Pipeline.candidates(feats, cfg).count()

    val json =
      s"""{"n":$n,"cores":$cores,"input_bytes":$bytes,""" +
      s""""pipeline_sec":$wall,"images_per_sec":$thr,"canonicals":$nCanon,""" +
      s""""clusters":$nClusters,"max_cluster":$maxCluster,"singletons":$singletons,""" +
      passJsons.mkString("", ",", ",") +
      s""""substring_probe_keys":$nProbeKeys,"substring_pairs":$subPairs,""" +
      s""""union_pairs":$unionPairs}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_PROBE_OUT", "scale_probe.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Exception => System.err.println(s"[probe] write failed: $e") }
    println(json)
    spark.stop()
  }
}
