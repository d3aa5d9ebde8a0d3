package graft.app

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-stage checkpointing with lineage + metrics — the resumability story
  * of the north_rule. Each stage writes its output as a parquet table (the
  * sandbox stand-in for an Iceberg table; swap `parquet` for
  * `writeTo(...).append()` on a real catalog) plus a `_metrics.json`
  * sidecar carrying per-output-file row counts (lineage: which file of
  * which stage holds how many rows) and stage wall time.
  *
  * `stage(name)(compute)` is skip-if-complete: a re-run after a crash
  * resumes from the last completed stage — no recomputation of finished
  * work (verified by the resume spec). A stage is complete only when BOTH
  * the parquet `_SUCCESS` marker AND the metrics sidecar exist — a crash
  * between the two re-runs the stage rather than leaving it permanently
  * metricless.
  */
final class Checkpoints(spark: SparkSession, workDir: String) {

  private def path(name: String) = s"$workDir/$name"
  private def metricsPath(name: String) = s"$workDir/${name}_metrics.json"

  def isComplete(name: String): Boolean =
    Files.exists(Paths.get(path(name), "_SUCCESS")) &&
      Files.exists(Paths.get(metricsPath(name)))

  /** Read a completed stage's table directly — the RESUME entry point.
    * Refuses an incomplete stage (no `_SUCCESS` marker or no metrics
    * sidecar): a crash mid-write must not resume from a partial table.
    * For a stage written with `partitionBy`, a filter on the partition
    * column prunes at the scan: a 100 TB resume that needs one bucket
    * reads one directory, not the whole checkpoint (PlanSpec-gated).
    */
  def load(name: String): DataFrame = {
    require(isComplete(name), s"checkpoint stage $name is not complete")
    spark.read.parquet(path(name))
  }

  /** Compute-or-load a stage. On compute: write parquet, then ONE read-back
    * job derives the row total and per-file lineage (the files ARE the
    * stage's produced output units — unlike spark_partition_id over a
    * re-read, which reflects reader split packing).
    *
    * @param partitionBy optional hive-style partition columns for the
    *        stage table — the TB-scale storage posture: resume reads
    *        filtered on these columns scan only matching partitions
    *        instead of the whole table. Lineage metrics count per FILE,
    *        so partition dirs stay fully accounted.
    */
  def stage(name: String, partitionBy: Seq[String] = Nil)
           (compute: => DataFrame): DataFrame = {
    if (!isComplete(name)) {
      val t0 = System.nanoTime()
      val df = compute
      val w = df.write.mode("overwrite")
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
        .parquet(path(name))
      val wallSec = (System.nanoTime() - t0) / 1e9
      val perFile = spark.read.parquet(path(name))
        .groupBy(input_file_name().as("file"))
        .agg(count(lit(1)).as("rows"))
        .collect()
        .map(r => (r.getString(0).split('/').last, r.getLong(1)))
        .sortBy(_._1)
      val total = perFile.map(_._2).sum
      val filesJson = perFile
        .map { case (f, n) => s"""{"file":"$f","rows":$n}""" }
        .mkString("[", ",", "]")
      Files.createDirectories(Paths.get(workDir))
      Files.writeString(Paths.get(metricsPath(name)),
        s"""{"stage":"$name","rows":$total,"wall_sec":$wallSec,"files":$filesJson}""")
    }
    spark.read.parquet(path(name))
  }

  def metrics(name: String): Option[String] =
    if (Files.exists(Paths.get(metricsPath(name)))) Some(Files.readString(Paths.get(metricsPath(name))))
    else None

  /** Write an arbitrary metrics sidecar (used for blocking-skew stats). */
  def writeMetrics(name: String, json: String): Unit = {
    Files.createDirectories(Paths.get(workDir))
    Files.writeString(Paths.get(metricsPath(name)), json)
  }
}

object Checkpoints {

  /** Per-blocking-pass skew report: buckets the cap dropped and the pairs
    * that forfeits (SURVEY.md §7.5 risk 2 — "dropped pairs counted in
    * metrics"). One JSON array entry per capped pass: the three hash-keyed
    * passes and "substring", whose buckets are its probe keys. For
    * "substring", `pairs_dropped` counts the pairs among a dropped key's
    * probers — a lower bound: the candidates a probe key loses are its
    * probers times the records whose text holds that k-gram.
    */
  def skewMetricsJson(feats: DataFrame, cfg: graft.model.DedupConfig): String = {
    import graft.block.Blocking
    // the stats run over the SAME keyed frames the pipeline blocks on, so
    // the sidecar reports the real buckets, not a parallel reconstruction
    val probes = Blocking.substringProbes(feats, "id", "norm", Pipeline.substringK(cfg))
    (Blocking.keyedPasses(feats, cfg) :+ ("substring" -> probes)).map { case (name, keyed) =>
      val r = Blocking.bucketStats(keyed, cfg.maxBucketSize).head()
      s"""{"pass":"$name","n_buckets":${r.getLong(0)},"n_dropped_buckets":${r.getLong(1)},""" +
        s""""pairs_dropped":${r.getLong(2)},"max_bucket":${r.getLong(3)}}"""
    }.mkString("[", ",", "]")
  }

  /** Full pipeline with per-stage checkpoints: resumable end-to-end run of
    * the [[Pipeline.run]] chain. Stages: features, candidates (+skew
    * sidecar), scored, assign_tc (+CC rounds sidecar), canonical.
    */
  def runCheckpointed(spark: SparkSession, images: DataFrame, workDir: String,
                      cfg: graft.model.DedupConfig): DataFrame = {
    import spark.implicits._
    val cp = new Checkpoints(spark, workDir)
    val feats = cp.stage("01_features")(Pipeline.features(images, cfg))
    val cands = cp.stage("02_candidates")(Pipeline.candidates(feats, cfg))
    if (cp.metrics("02_candidates_skew").isEmpty)
      cp.writeMetrics("02_candidates_skew", skewMetricsJson(feats, cfg))
    val scoredDf = cp.stage("03_scored") {
      Pipeline.classified(feats, cands, cfg).toDF()
    }
    val scored = scoredDf.as[Pipeline.ScoredEdge]
    // assignment tables carry a 16-way id-hash partition column: the
    // tables a daily increment resumes AGAINST get the partition-pruned
    // read path (Checkpoints.load + a pb filter scans one directory).
    // pb is dropped from the in-pipeline frames — downstream stages see
    // the unchanged (id, cluster_id) shape.
    def withPb(df: DataFrame): DataFrame =
      df.withColumn("pb", pmod(xxhash64(col("id")), lit(16)).cast("int"))
    // CC explains its rounds the same way: the stats arrive only when the
    // stage computes, so a resumed run keeps the original sidecar
    var ccStats = Option.empty[graft.cluster.ConnectedComponents.Stats]
    val assign = cp.stage("04_assign_tc", partitionBy = Seq("pb"))(
      withPb(Pipeline.cluster(feats, scored, s => ccStats = Some(s)))).drop("pb")
    ccStats.foreach(s => cp.writeMetrics("04_assign_tc_cc",
      s"""{"stage":"04_assign_tc","distributed_rounds":${s.distributedRounds},""" +
        s""""driver_edges":${s.driverEdges}}"""))
    cp.stage("05_canonical")(Pipeline.fuse(images, assign).toDF())
  }
}
