package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.app.Checkpoints
import graft.cluster.ConnectedComponents
import graft.gen.ImageGen
import graft.model.DedupConfig
import graft.streaming.StreamingDedup

/** Checkpoint/resume, incremental (consistent) clustering, and Structured
  * Streaming specs.
  */
class ResumeStreamSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("resume-stream-spec")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("checkpointed run is resumable: later stages recompute, finished stages load") {
    val work = tmpDir("graft-cp")
    val images = ImageGen.asImages(ImageGen.generate(spark, 500L, 42L, 8)).toDF()
      .cache()
    val cfg = DedupConfig()
    val out1 = Checkpoints.runCheckpointed(spark, images, work, cfg)
      .collect().map(r => (r.getString(0), r.getString(2))).sorted

    val cp = new Checkpoints(spark, work)
    assert(Seq("01_features", "02_candidates", "03_scored", "04_assign_tc",
      "05_assign_refined", "06_canonical").forall(cp.isComplete))
    // metrics sidecar carries per-output-file lineage
    val m = cp.metrics("03_scored").get
    assert(m.contains("\"files\":[") && m.contains("\"rows\":"))
    // blocking-pass skew sidecar counts dropped pairs per pass
    // (SURVEY.md §7.5 risk 2)
    val skew = cp.metrics("02_candidates_skew").get
    assert(skew.contains("\"pass\":\"lsh\"") && skew.contains("\"pairs_dropped\":"))
    // ClusterSplitHandler contract: refinement splits are persisted to the
    // metrics sidecar (ref core/.../ClusterSplitHandler.java:37-69)
    val splits = cp.metrics("05_assign_refined_splits").get
    assert(splits.contains("\"n_split_clusters\":"),
      s"splits sidecar must carry the split count: $splits")
    // a missing sidecar marks the stage incomplete (crash-window safety)
    Files.delete(Paths.get(s"$work/03_scored_metrics.json"))
    assert(!cp.isComplete("03_scored"))
    Files.writeString(Paths.get(s"$work/03_scored_metrics.json"), m)
    assert(cp.isComplete("03_scored"))

    // crash simulation: delete the last two stages; earlier checkpoints
    // must be loaded, not recomputed (detected via mtime stability)
    def mtime(s: String) = Files.getLastModifiedTime(Paths.get(s"$work/$s/_SUCCESS")).toMillis
    val featsT = mtime("01_features"); val scoredT = mtime("03_scored")
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$work/05_assign_refined")).deleteRecursively()
    new Directory(new java.io.File(s"$work/06_canonical")).deleteRecursively()

    val out2 = Checkpoints.runCheckpointed(spark, images, work, cfg)
      .collect().map(r => (r.getString(0), r.getString(2))).sorted
    assert(out1.toSeq == out2.toSeq, "resumed run must reproduce the output")
    assert(mtime("01_features") == featsT && mtime("03_scored") == scoredT,
      "completed stages must not be recomputed on resume")
  }

  test("load refuses a stage whose _SUCCESS marker or metrics sidecar is missing") {
    import spark.implicits._
    val work = tmpDir("graft-cp-load")
    val cp = new Checkpoints(spark, work)
    cp.stage("t")((0L until 10L).toDF("id"))
    assert(cp.load("t").count() == 10L)
    // a crash after the data files but before the marker: a partial table
    Files.delete(Paths.get(s"$work/t/_SUCCESS"))
    assertThrows[IllegalArgumentException](cp.load("t"))
    // re-running the stage completes it; then a lost sidecar also refuses
    cp.stage("t")((0L until 10L).toDF("id"))
    assert(cp.load("t").count() == 10L)
    Files.delete(Paths.get(s"$work/t_metrics.json"))
    assertThrows[IllegalArgumentException](cp.load("t"))
  }

  test("incremental clustering keeps emitted cluster ids stable and merges on new evidence") {
    import spark.implicits._
    val nodes = (0L until 10L).toDF("id")
    val e1 = Seq((0L, 1L), (2L, 3L)).toDF("src", "dst")
    val a1 = ConnectedComponents.assignAll(nodes, "id", e1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a1(1L) == 0L && a1(3L) == 2L)

    // new batch: an edge inside cluster {2,3} plus a new pair {4,5};
    // consistent clustering must keep ids 0 and 2 stable
    val e2 = Seq((3L, 2L), (4L, 5L)).toDF("src", "dst")
    val prev = nodes.join(
      Seq((0L, 0L), (1L, 0L), (2L, 2L), (3L, 2L)).toDF("id", "cluster_id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
    val a2 = ConnectedComponents.incrementalAssign(nodes, "id", prev, e2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a2(0L) == 0L && a2(1L) == 0L, "old cluster 0 stable")
    assert(a2(2L) == 2L && a2(3L) == 2L, "old cluster 2 stable")
    assert(a2(4L) == 4L && a2(5L) == 4L, "new pair clustered")

    // merging evidence: edge linking the two old clusters -> min id wins,
    // no split of previously-emitted clusters
    val e3 = Seq((1L, 2L)).toDF("src", "dst")
    val a3 = ConnectedComponents.incrementalAssign(nodes, "id", prev, e3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(0L, 1L, 2L, 3L).forall(a3(_) == 0L), "merged cluster takes min id")
  }

  test("incrementalAssignDelta: touched-neighborhood re-clustering with true stable-id semantics") {
    import spark.implicits._
    // standing: {10,11,12}→10, {20,21}→20, {30}→30, {40,41}→40
    val standing = Seq((10L, 10L), (11L, 10L), (12L, 10L), (20L, 20L),
      (21L, 20L), (30L, 30L), (40L, 40L), (41L, 40L)).toDF("id", "cluster_id")
    // batch: 5 joins cluster 10 (and 5 < 10 — the raw-min id must NOT
    // steal the emitted id), 6 bridges clusters 20 and 40 (merge → min
    // standing id 20), 7+8 pair up fresh, 9 is a singleton
    val newIds = Seq(5L, 6L, 7L, 8L, 9L).toDF("id")
    val newEdges = Seq((5L, 11L), (6L, 21L), (6L, 41L), (7L, 8L))
      .toDF("id1", "id2")
    val got = graft.cluster.ConnectedComponents
      .incrementalAssignDelta(standing, newIds, newEdges)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // emitted id 10 survives even though batch id 5 is smaller
    assert(got(5L) == ((10L, "batch")), s"got $got")
    Seq(10L, 11L, 12L).foreach(i => assert(got(i) == ((10L, "stable"))))
    // merge of standing clusters 20 and 40 keeps the SMALLER standing id
    assert(got(6L) == ((20L, "batch")))
    Seq(20L, 21L).foreach(i => assert(got(i) == ((20L, "stable"))))
    Seq(40L, 41L).foreach(i => assert(got(i) == ((20L, "merged"))))
    // fresh pair takes its min member id; batch singleton maps to itself
    assert(got(7L) == ((7L, "batch")) && got(8L) == ((7L, "batch")))
    assert(got(9L) == ((9L, "batch")))
    // untouched standing cluster passes through
    assert(got(30L) == ((30L, "stable")))
    assert(got.size == 13)
  }

  test("streaming: online first-per-key dedup across micro-batches") {
    import spark.implicits._
    val dir = tmpDir("graft-stream-in")
    val cpDir = tmpDir("graft-stream-cp")
    // batch 1: keys a,b ; batch 2: duplicate a + new c
    Seq(("a", "r1"), ("b", "r2")).toDF("key", "id")
      .coalesce(1).write.mode("append").parquet(dir)

    val stream = spark.readStream
      .schema("key string, id string")
      .parquet(dir)
    val q = StreamingDedup.firstPerKey(stream, "key", "id")
      .writeStream.outputMode("append").format("memory").queryName("uniq")
      .option("checkpointLocation", cpDir)
      .start()
    q.processAllAvailable()
    Seq(("a", "r3"), ("c", "r4")).toDF("key", "id")
      .coalesce(1).write.mode("append").parquet(dir)
    q.processAllAvailable()
    q.stop()

    val got = spark.table("uniq").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.keySet == Set("a", "b", "c"))
    assert(got("a") == "r1", "first arrival must win across micro-batches")
    assert(got("c") == "r4")
  }

  test("streaming: online cluster re-emission matches batch CC on the same edge sequence " +
      "(ref OnlineDuplicateDetection.java:34-65)") {
    import spark.implicits._
    val dir = tmpDir("graft-oc-in")
    val cpDir = tmpDir("graft-oc-cp")

    def addBatch(edges: Seq[(String, String)]): Unit =
      edges.toDF("id1", "id2").coalesce(1).write.mode("append").parquet(dir)

    addBatch(Seq(("b", "a"), ("c", "d")))
    val stream = spark.readStream.schema("id1 string, id2 string").parquet(dir)
    val q = graft.streaming.OnlineClustering.clusterUpdates(stream)
      .writeStream.outputMode("append").format("memory").queryName("oc")
      .option("checkpointLocation", cpDir)
      .start()
    q.processAllAvailable()
    def rows(): Seq[(String, String)] =
      spark.table("oc").collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val d1 = rows()
    assert(d1.toSet == Set("a" -> "a", "b" -> "a", "c" -> "c", "d" -> "c"),
      s"batch 1 emits both new clusters: $d1")

    // batch 2 merges the two clusters: the absorbed cluster (c, d) MUST
    // re-emit under the surviving id — "one record in, updated clusters out"
    addBatch(Seq(("b", "c")))
    q.processAllAvailable()
    val d2 = rows().drop(d1.size)
    assert(d2.toSet == Set("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a"),
      s"merge must re-emit every member of the merged cluster: $d2")

    // batch 3 touches only a NEW cluster: nothing else re-emits
    addBatch(Seq(("e", "f")))
    q.processAllAvailable()
    val d3 = rows().drop(d1.size + d2.size)
    assert(d3.toSet == Set("e" -> "e", "f" -> "e"),
      s"untouched clusters must not re-emit: $d3")
    q.stop()

    // latest emission per id == the batch transitive closure over the full
    // edge sequence (the distributed path the stream must agree with)
    val latest = (d1 ++ d2 ++ d3).foldLeft(Map.empty[String, String])(_ + _)
    val allEdges = Seq(("b", "a"), ("c", "d"), ("b", "c"), ("e", "f")).toDF("src", "dst")
    val ids = Seq("a", "b", "c", "d", "e", "f").toDF("id")
    val batchAssign = ConnectedComponents.assignAll(ids, "id", allEdges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(latest == batchAssign,
      s"stream state $latest must equal batch CC $batchAssign")
  }

  test("streaming: first-per-key state expires after its event-time TTL and the key re-emits") {
    import spark.implicits._
    // Event-time TTL (firstPerKeyEventTime): eviction is driven by the
    // WATERMARK, so every step below is deterministic — no wall-clock
    // sleeps, and processAllAvailable settles (a processing-time TTL keeps
    // the engine scheduling timeout batches forever; see the stateTtl note
    // on firstPerKey).
    val dir = tmpDir("graft-stream-evt-in")
    val cpDir = tmpDir("graft-stream-evt-cp")
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    def feed(rows: (String, String, Long)*): Unit = {
      rows.map { case (k, i, t) => (k, i, ts(t)) }.toDF("key", "id", "ts")
        .coalesce(1).write.mode("append").parquet(dir)
      // one batch per feed keeps watermark advancement deterministic
      qRef.processAllAvailable()
    }
    lazy val qRef = {
      val stream = spark.readStream
        .schema("key string, id string, ts timestamp")
        .parquet(dir)
      StreamingDedup.firstPerKeyEventTime(stream, "key", "id", "ts", ttlMs = 5000L)
        .writeStream.outputMode("append").format("memory").queryName("uniq_evt")
        .option("checkpointLocation", cpDir)
        .start()
    }

    feed(("a", "r1", 10))            // a emitted; expiry at t=15; wm -> 10
    feed(("a", "r2", 12), ("b", "r3", 12)) // within TTL: a suppressed; wm -> 12
    feed(("c", "r4", 30))            // wm -> 30 (past a's t=15 expiry)
    feed(("d", "r5", 31))            // timeout fires HERE (wm already 30): a evicted
    feed(("a", "r6", 32))            // a re-arrives after eviction: re-emitted
    qRef.stop()

    val got = spark.table("uniq_evt").collect()
      .map(r => r.getString(0) -> r.getString(1)).toSeq
    assert(got.contains("a" -> "r1") && got.contains("b" -> "r3"), s"got $got")
    assert(!got.contains("a" -> "r2"), s"duplicate within TTL must stay suppressed: $got")
    assert(got.contains("a" -> "r6"), s"expired key must re-emit: $got")
    // the reference's unbounded seen-key index
    // (OnlineSortedNeighborhoodMethod.java:103) traded for bounded,
    // watermark-evicted state
    assert(got.count(_._1 == "a") == 2, s"exactly first + post-expiry emits: $got")
  }

  test("streaming: session_window sessionization closes sessions at the watermark " +
    "and matches the batch sessionizer's grouping") {
    import spark.implicits._
    val dir = tmpDir("graft-stream-sess")
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // user 1: one 3-event session then a second session past the 30 min gap;
    // user 2: a singleton session
    val rows = Seq(
      (1L, ts(0), 1.0), (1L, ts(100), 2.0), (1L, ts(200), 4.0),
      (1L, ts(4000), 8.0),
      (2L, ts(50), 16.0))
    rows.toDF("user_id", "ts", "value")
      .coalesce(1).write.mode("append").parquet(dir)
    val stream = spark.readStream
      .schema("user_id long, ts timestamp, value double")
      .parquet(dir)
    val q = StreamingDedup.sessionCounts(stream, "ts", "user_id", watermark = "0 seconds")
      .writeStream.outputMode("append").format("memory").queryName("sess")
      .start()
    q.processAllAvailable()
    // sentinel event far in the future: pushes the watermark past every
    // real session's end so append mode emits them as CLOSED
    Seq((99L, ts(100000), 0.0)).toDF("user_id", "ts", "value")
      .coalesce(1).write.mode("append").parquet(dir)
    q.processAllAvailable()
    q.stop()

    val got = spark.table("sess").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000,
        r.getLong(3), r.getDouble(4))).toSet
    assert(got == Set(
      (1L, 0L, 3L, 7.0),     // [0, 200+1800): three events
      (1L, 4000L, 1L, 8.0),  // new session after the gap
      (2L, 50L, 1L, 16.0)), s"got $got") // sentinel session still open -> absent

    // same grouping as the batch sessionizer on the same (non-sentinel) rows
    val batch = graft.ops.Events.sessionize(
      rows.zipWithIndex.map { case ((u, t, v), i) => (i.toLong, t, u, v) }
        .toDF("event_id", "ts", "user_id", "value"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet // (user, n_events)
    assert(batch == Set((1L, 3L), (1L, 1L), (2L, 1L)))
  }

  test("streaming: watermarked windowed aggregation over the events table") {
    val dir = tmpDir("graft-stream-ev")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .coalesce(1).write.mode("append").parquet(dir)
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .parquet(dir)
    val q = StreamingDedup.windowedCounts(stream, "ts", "event_type")
      .writeStream.outputMode("append").format("memory").queryName("winagg")
      .start()
    q.processAllAvailable()
    q.stop()
    // append mode emits only watermark-closed windows; the real assertion
    // is that the streaming plan runs end-to-end and state checkpoints
    assert(spark.table("winagg").columns.toSeq ==
      Seq("window", "event_type", "n", "total"))
  }

  test("streaming image dedup e2e: decode features on the stream, " +
    "first-per-pixel_sha keeps exactly one id per distinct pixel content") {
    val dir = tmpDir("graft-stream-img")
    val gen = graft.gen.ImageGen.generate(spark, 60L, seed = 7L, partitions = 4)
    graft.gen.ImageGen.asImages(gen).toDF()
      .coalesce(2).write.mode("append").parquet(dir)
    val batchFeats = graft.ops.Multimodal.decodeFeatures(spark.read.parquet(dir))
    val nDistinct = batchFeats.select("pixel_sha").distinct().count()
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .parquet(dir)
    // the SAME decode operator runs on the unbounded stream (stateless
    // mapPartitions in the scan stage), then stateful first-per-key dedup
    val feats = graft.ops.Multimodal.decodeFeatures(stream).toDF()
    val q = StreamingDedup.firstPerKey(feats, "pixel_sha", "image_id")
      .writeStream.outputMode("append").format("memory").queryName("imguniq")
      .start()
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("imguniq").collect()
      .map(r => r.getString(0) -> r.getString(1))
    assert(kept.length.toLong == nDistinct,
      s"one survivor per distinct pixel content: ${kept.length} vs $nDistinct")
    assert(kept.map(_._1).distinct.length == kept.length, "keys must be unique")
    assert(kept.length < 60, "planted lossless duplicates must be dropped")
  }

  test("streaming backfill parity: the SAME hopping-window operator over a " +
    "stream (complete mode) emits exactly the batch rows") {
    val dir = tmpDir("graft-stream-hop")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .coalesce(1).write.mode("append").parquet(dir)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
    val batch = graft.ops.Events.hoppingWindows(
        spark.read.parquet(dir), 3600L, 900L, withUserCounts = false)
      .collect().map(key).toSet
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .parquet(dir)
    val q = graft.ops.Events.hoppingWindows(stream, 3600L, 900L, withUserCounts = false)
      .writeStream.outputMode("complete").format("memory").queryName("hopagg")
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("hopagg").collect().map(key).toSet
    assert(streamed == batch,
      s"stream-vs-batch diff: ${(streamed diff batch).take(3)} / ${(batch diff streamed).take(3)}")
    assert(batch.nonEmpty)
  }
}
