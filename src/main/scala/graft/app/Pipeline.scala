package graft.app

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.block.Blocking
import graft.classify.Verify
import graft.cluster.{ConnectedComponents, Refine}
import graft.fuse.Fusion
import graft.model.{Classification, DedupConfig, IdOrdering, ImageRecord}
import graft.sig.Signatures

/** The full dedup pipeline over an image+caption table — the batch
  * re-expression of the reference's 4-stage flow
  * (records -> blocking -> classification -> clustering -> fusion,
  * `OnlinePairBasedDuplicateDetection.java:81-93`,
  * `FusingOnlineDeduplication.java:48-80`) as Dataset transforms.
  * [[run]] chains the five stages features -> candidates -> classified ->
  * cluster -> fuse; [[refine]] is an explicit stage a caller may insert
  * between cluster and fuse, never part of the default chain.
  *
  * Scale discipline (100 TB):
  *  - the binary payload never shuffles: stage 1 projects features
  *    (normalized caption, shingles, signatures) and everything downstream
  *    moves only ids + small features; bytes re-join once at fusion,
  *    id-partitioned;
  *  - blocking unions 5 passes (MinHash/LSH, SimHash blocks, phash blocks,
  *    substring, exact-content star) and dedups candidate pairs BEFORE
  *    verification; a null feature is never a blocking key;
  *  - verification is one kernel call per candidate ([[Verify]], the rule
  *    cascade), and refine scores its missing pairs with the same method;
  *  - CC is O(log n) rounds of sort-merge joins, finished on the driver
  *    once the edge set fits; refine touches only clustered rows via
  *    cogroup.
  */
object Pipeline {

  final case class ScoredEdge(id1: String, id2: String, classification: String,
                              confidence: Double, explanation: String)

  final case class Canonical(cluster_id: String, n_members: Long, image_id: String,
                             caption: String, fmt: String, w: Int, h: Int,
                             phash: Long, fuse_errors: Seq[String])

  /** Stage 1: feature projection (column-pruned: bytes read once for the
    * content hash, never again). Shingles are carried as 32-bit truncated
    * xxhash64 values, not strings — Jaccard on hashed shingles is identical
    * modulo rare truncation collisions (±1/|union| per collision), at half
    * the verify-shuffle bytes of the 64-bit form, which is the pipeline's
    * largest memory-traffic item and what DRAM bandwidth caps at high core
    * counts (the md5-based hash60 is only needed where a DuckDB oracle must
    * mirror the hash; the in-memory test oracle shares fastHash32).
    */
  def features(images: DataFrame, cfg: DedupConfig): DataFrame = {
    val norm = Signatures.normalizeCol(col("caption"))
    images.select(
      col("image_id").as("id"),
      norm.as("norm"),
      col("phash"),
      md5(col("bytes")).as("chash"))
      .withColumn("shs", Signatures.hashedShingles32Col(col("norm"), cfg.shingleK))
      .withColumn("simhash", Signatures.simHashFastCol(col("norm"), cfg.simhashBits))
  }

  /** Stage 2: multi-pass blocking — union of candidate passes, deduplicated
    * before the expensive verify (ref cross-pass `.distinct()` placement,
    * SURVEY.md §4).
    */
  def candidates(feats: DataFrame, cfg: DedupConfig): DataFrame = {
    val cap = Some(cfg.maxBucketSize)
    // the three hash-keyed passes (LSH bands, simhash blocks, phash blocks)
    // share one keyed union -> ONE groupBy shuffle -> one pairing, instead
    // of one shuffle+distinct per pass; keys are pass-prefixed so buckets
    // never mix across passes. Identical pair set, 3x fewer stage barriers.
    val keyed = Blocking.keyedUnion(feats, cfg)
    val hashed = Blocking.pairsFromKeys(keyed, cap)
    val sub = Blocking.substringPairs(feats, "id", "norm", substringK(cfg), cap)
    // exact-content buckets star to their min id: same clusters, n-1 edges
    // per bucket instead of C(n,2) (a 2500-copy cluster: 2.5k vs 3.1M pairs)
    val exact = Blocking.starPairsFromKeys(
      feats.select(col("id"), col("chash").as("key")))
    hashed.unionAll(sub).unionAll(exact)
      .dropDuplicates("id1", "id2")
  }

  /** Probe length of the flagship's substring pass. */
  def substringK(cfg: DedupConfig): Int = cfg.shingleK + 3

  /** Stage 3: pairwise verification — one [[Verify]] kernel call per
    * candidate over the two sides' [[Verify.InputType]] structs, each
    * joined in by id; whole-stage subexpression elimination evaluates the
    * kernel once per row for its three output fields.
    */
  def classified(feats: DataFrame, cands: DataFrame, cfg: DedupConfig): Dataset[ScoredEdge] = {
    def side(i: Int) = feats.select(col("id").as(s"id$i"), Verify.features.as(s"f$i"))
    val verdict = Verify(col("f1"), col("f2"), cfg)
    import feats.sparkSession.implicits._
    cands.join(side(1), Seq("id1")).join(side(2), Seq("id2"))
      .select(col("id1"), col("id2"),
        verdict("classification").as("classification"),
        verdict("confidence").as("confidence"),
        verdict("explanation").as("explanation"))
      .as[ScoredEdge]
  }

  /** Stage 4: transitive clustering over DUPLICATE edges only
    * (ref `TransitiveClosure.java:72-79`). Record universe comes from the
    * (persisted, payload-free) feature table.
    *
    * @param onStats receives the CC run's distributed rounds and
    *        driver-finished edges (see [[ConnectedComponents.Stats]])
    */
  def cluster(feats: DataFrame, scored: Dataset[ScoredEdge],
              onStats: ConnectedComponents.Stats => Unit = _ => ()): DataFrame = {
    val dupEdges = scored.where(col("classification") === Classification.Duplicate)
      .select(col("id1"), col("id2"))
    ConnectedComponents.assignAll(feats, "id", dupEdges, onStats)
  }

  /** Explicit refinement stage, not part of [[run]]: [[Refine.refineAll]]
    * over the CC assignment, with known edges weighted by their stage-3
    * classification and missing pairs scored by the stage-3 cascade itself
    * ([[Verify.classify]] on the members' [[Verify.InputType]] rows), mapped
    * to a signed weight by [[Refine.classificationWeight]].
    */
  def refine(assign: DataFrame, feats: DataFrame, scored: Dataset[ScoredEdge],
             cfg: DedupConfig,
             splitCounter: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val spark = assign.sparkSession
    import spark.implicits._
    val members = feats.select(col("id"), Verify.features)
    val edges = scored.select(col("id1"), col("id2"),
      Refine.classificationWeight(col("classification"), col("confidence")))
    val (k, bits, t) = (cfg.shingleK, cfg.simhashBits, cfg.jaccardThreshold)
    Refine.refineAll[String, Verify.Feat](assign, members, edges, { (a, b) =>
      val r = Verify.classify(a.row, b.row, k, bits, t)
      Refine.classificationWeight(r.getUTF8String(0).toString, r.getDouble(1))
    }, splitCounter)
  }

  /** Payload-free fusion row: the binary `bytes` column never enters the
    * fusion shuffle (SURVEY.md §7.5 risk 4) — the canonical points at its
    * representative row; bytes re-join by id only if a caller needs them.
    */
  final case class FuseRec(image_id: String, caption: String, fmt: String,
                           w: Int, h: Int, phash: Long)

  /** Stage 5: conflict-resolution fusion — one canonical record per cluster
    * via the Merge DSL in mapGroups; singletons pass through
    * (ref `ConflictResolutionFusion.java:77-79`). Members are sorted and the
    * canonical id picked under [[IdOrdering]], so the canonical record of
    * an unsplit cluster carries its `cluster_id`.
    */
  def fuse(images: DataFrame, assign: DataFrame): Dataset[Canonical] = {
    val spark = images.sparkSession
    import spark.implicits._
    import Fusion._

    val merge = Merge[FuseRec](Seq(
      FieldMerge[FuseRec, String]("image_id", _.image_id, (r, v) => r.copy(image_id = v),
        andThen(min(IdOrdering.string), first)),
      FieldMerge[FuseRec, String]("caption", _.caption, (r, v) => r.copy(caption = v),
        andThen(longest, andThen(mostFrequent[String], first))),
      FieldMerge[FuseRec, String]("fmt", _.fmt, (r, v) => r.copy(fmt = v),
        andThen(mostFrequent[String], first))))

    val slim = images.select(col("image_id"), col("caption"), col("fmt"),
      col("w"), col("h"), col("phash")).as[FuseRec]
    val asg = assign.toDF("fid", "cluster_id")

    slim.joinWith(asg, col("image_id") === col("fid"))
      .map { case (rec, a) => (a.getString(1), rec) }
      .groupByKey(_._1)
      .mapGroups { (cid, it) =>
        val mem = it.map(_._2).toArray.sortBy(_.image_id)(IdOrdering.string)
        val annotated = mem.map(r => Annotated(r, "src", 1.0, 0L)).toSeq
        val (fusedRec, errors) = merge.fuse(annotated)
        Canonical(cid, mem.length.toLong, fusedRec.image_id, fusedRec.caption,
          fusedRec.fmt, fusedRec.w, fusedRec.h, fusedRec.phash, errors)
      }
  }

  /** Full run, features -> candidates -> classified -> cluster -> fuse:
    * returns (CC assignments, canonicals). The one place the flagship
    * stages are sequenced; `pipeline_canonical` hash-gates its output.
    * Stages persist at boundaries (the in-memory stand-in for per-stage
    * Iceberg checkpoints; `Checkpoints.runCheckpointed` writes real
    * parquet checkpoints of the same chain).
    */
  def run(spark: SparkSession, images: Dataset[ImageRecord], cfg: DedupConfig)
      : (DataFrame, Dataset[Canonical]) = {
    // the source scan is read once: payload-free projection persisted (the
    // in-memory stand-in for a per-stage checkpoint table); bytes are only
    // read in the feature projection (for the content hash) and never again
    val df = images.toDF()
    val feats = features(df, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    // materialize the feature stage ONCE before fanning out: the blocking
    // union scans `feats` from ~6 branches concurrently, and concurrent
    // first-computes of a lazily-persisted frame each recompute every
    // partition before the cache fills (measured ~3x the whole stage)
    feats.count()
    val slim = df.select(col("image_id"), col("caption"), col("fmt"),
      col("w"), col("h"), col("phash")).persist(StorageLevel.MEMORY_AND_DISK)
    val cands = candidates(feats, cfg)
    val scored = classified(feats, cands, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    val assign = cluster(feats, scored)
    val canon = fuse(slim, assign)
    (assign, canon)
  }
}
