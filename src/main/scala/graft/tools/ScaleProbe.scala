package graft.tools

import scala.collection.immutable.ListMap

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Bench
import graft.app.Pipeline
import graft.block.Blocking
import graft.model.DedupConfig

/** Order-of-magnitude scale probe: run the flagship pipeline ONCE at n well
  * beyond the bench point (default 4M rows, ~20 GB of encoded images) and
  * report the constants the bucket caps / CC loop / substring collect were
  * only ever measured at n<=600k:
  *
  *   - wall seconds + images/sec for the full 5-stage pipeline at `cores`
  *   - per-blocking-pass pairs, buckets dropped by the skew cap, pairs
  *     dropped, max bucket size (lsh / simhash / phash passes)
  *   - substring probe-key count (the driver-collect vs shard-switch input)
  *   - cluster count, max cluster size, singleton fraction
  *
  * The input is the bench's own (`Bench.ensureInput`). Output: see [[Probe]].
  *
  * Usage: runMain graft.tools.ScaleProbe [n] [cores]
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(4000000L)
    val cores = Probe.cores(args, 1)
    val gen = Bench.session(cores)
    val inputPath = Bench.ensureInput(gen, n)
    val warmPath = Bench.ensureInput(gen, 2000L)
    gen.stop()
    val bytes = Bench.dirBytes(inputPath)

    // ---- timed pipeline run (one warm pass at tiny n for JIT/codegen)
    val spark = Bench.session(cores, bytes)
    import spark.implicits._
    Bench.pipelineRun(spark, warmPath)
    val images = spark.read.parquet(inputPath).as[graft.model.ImageRecord]
    val cfg = DedupConfig()
    val ((assign, nCanon), wall) = Probe.timed {
      val (assign, canon) = Pipeline.run(spark, images, cfg)
      (assign, canon.count())
    }

    // ---- cluster-shape stats (untimed; assign is persisted by run())
    val cl = assign.groupBy("cluster_id").count()
      .agg(count(lit(1)).as("clusters"), max(col("count")).as("max_cluster"),
        sum(when(col("count") === 1, 1L).otherwise(0L)).as("singletons"))
      .head()

    // ---- per-pass skew stats (untimed; recomputed from the feature stage)
    val feats = Pipeline.features(images.toDF(), cfg)
      .persist(StorageLevel.MEMORY_AND_DISK)
    feats.count()
    val passes = Blocking.keyedPasses(feats, cfg).map { case (name, keyed) =>
      val st = Blocking.bucketStats(keyed, cfg.maxBucketSize).head()
      name -> ListMap("pairs" -> Blocking.pairsFromKeys(keyed, Some(cfg.maxBucketSize)).count(),
        "buckets" -> st.getLong(0), "buckets_dropped" -> st.getLong(1),
        "pairs_dropped" -> st.getLong(2), "max_bucket" -> st.getLong(3))
    }
    // substring pass: its distinct probe keys bound the driver collect
    val k = Pipeline.substringK(cfg)
    Probe.emit("scale", ListMap(Seq(
      "n" -> n, "cores" -> cores, "input_bytes" -> bytes,
      "pipeline_sec" -> wall, "images_per_sec" -> n / wall, "canonicals" -> nCanon,
      "clusters" -> cl.getLong(0), "max_cluster" -> cl.getLong(1),
      "singletons" -> cl.getLong(2)) ++ passes ++ Seq(
      "substring_probe_keys" -> Blocking.substringProbes(feats, "id", "norm", k)
        .select("key").distinct().count(),
      "substring_pairs" -> Blocking.substringPairs(feats, "id", "norm", k,
        Some(cfg.maxBucketSize)).count(),
      "union_pairs" -> Pipeline.candidates(feats, cfg).count()): _*))
    spark.stop()
  }
}
