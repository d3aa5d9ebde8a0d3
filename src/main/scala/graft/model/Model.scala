package graft.model

/** Core data model for the dedup engine.
  *
  * Re-expresses the reference's generic record/candidate/cluster types
  * (bakdata/dedupe `core/dedupe/candidate_selection/Candidate.java:38-52`,
  * `core/dedupe/clustering/Cluster.java:52-107`) as Spark-encodable case
  * classes. Where the reference keeps clusters as materialized element lists,
  * we keep a distributed assignment table `(id -> cluster_id)` so the model
  * scales to 10^12 rows (SURVEY.md §1.1).
  */

/** The target table shape (BASELINE.json input_hint):
  * Iceberg/parquet table of image+caption pairs.
  */
final case class ImageRecord(
    image_id: String,
    bytes: Array[Byte],
    w: Int,
    h: Int,
    fmt: String,
    caption: String,
    phash: Long)

/** A blocking candidate: canonical unordered pair, id1 < id2.
  * Ref: `Candidate.java:38-52` / `OfflineCandidate.java:38-50`; canonical
  * ordering replaces the reference's symmetric-cache trick
  * (`CachingSimilarity.java:78-83`).
  */
final case class CandidatePair(id1: String, id2: String)

/** Classification outcome of a pairwise rule cascade.
  * Ref enum: `core/dedupe/classifier/Classification.java:34-78`.
  * UNKNOWN carries no clustering weight (ibid:54-64); POSSIBLE is a distinct
  * state rewritten by policy before clustering.
  */
object Classification {
  val Duplicate = "DUPLICATE"
  val PossibleDuplicate = "POSSIBLE_DUPLICATE"
  val NonDuplicate = "NON_DUPLICATE"
  val Unknown = "UNKNOWN"
}

/** A classified candidate with confidence and lineage explanation.
  * Ref: `ClassificationResult.java:36-56` + `ClassifiedCandidate.java:41-52`.
  * `confidence` is null-able (None) = unknown; we use null, never NaN
  * (SURVEY.md §1.2 NaN->null protocol).
  */
final case class ScoredPair(
    id1: String,
    id2: String,
    classification: String,
    confidence: Option[Double],
    explanation: String)

/** Cluster membership: the distributed inversion of the reference's
  * `Cluster<C,T>` element list. cluster_id = min member id (deterministic,
  * unlike the reference's counter ids, `ClusterIdGenerators.java:36-59`).
  */
final case class Assignment(id: String, cluster_id: String)

/** An undirected weighted edge between records, used by clustering/refine.
  * Ref: `core/dedupe/matching/WeightedEdge.java:39-65`.
  */
final case class Edge(src: String, dst: String, weight: Double)

/** Pipeline configuration: every seed/threshold pinned for determinism
  * (SURVEY.md §7.5 risk 5).
  *
  * @param shingleK      char-shingle width over normalized caption
  * @param numHashes     MinHash signature length n
  * @param bands         LSH bands b (numHashes = bands * rowsPerBand)
  * @param simhashBits   SimHash width (<=60: fits the shared 60-bit hash)
  * @param simhashBandBits bits per simhash band-table block
  * @param jaccardThreshold  verify threshold on caption shingle Jaccard
  * @param hammingThreshold  verify threshold on phash/simhash Hamming distance
  * @param phashBlocks   pigeonhole blocks over the 64-bit phash (4 x 16-bit
  *        blocks guarantee capture at Hamming <= 3 — covers lossy re-encode;
  *        more blocks catch larger distances but explode buckets on
  *        low-entropy images)
  * @param maxBucketSize LSH band-bucket cap (skew guard; dropped pairs counted)
  * @param maxSmallClusterSize refine exact-partition cutoff
  *        (ref `RefineClusterImpl.java:86` default 10)
  */
final case class DedupConfig(
    shingleK: Int = 5,
    numHashes: Int = 128,
    // 16 bands x 8 rows: LSH s-curve centered near (1/16)^(1/8) ~= 0.71 —
    // matched to the 0.8 verify threshold. 32x4 (~0.42) floods verification
    // with mid-similarity junk (measured 3.8M LSH candidates for 60k docs
    // vs ~118k true dup edges); pairs in the 0.6-0.8 band that 16x8 can
    // miss are covered by the simhash and phash passes of the union
    bands: Int = 16,
    simhashBits: Int = 60,
    // 3 x 20-bit blocks (guarantee: Hamming <= 2). 15-bit blocks put 60k
    // docs into 32k buckets/block — ~7 docs/bucket of pure hash collision
    // (measured 1.55M junk pairs); 20-bit blocks make random collision
    // negligible while still catching near-identical token sets
    simhashBandBits: Int = 20,
    // 2 x 32-bit blocks: guarantees capture at Hamming <= 1 (identical or
    // near-identical pixels — re-encodes). 16-bit blocks collide randomly
    // on low-entropy hashes (measured ~1M junk pairs at 60k docs); deeper
    // image-side recall comes from the caption passes of the union.
    //
    // CAPTURE CONTRACT of the bit-block passes: the pigeonhole guarantee is
    // Hamming <= blocks-1 (simhash <= 2, phash <= 1) — NOT hammingThreshold.
    // Pairs in the 3..hammingThreshold (resp. 2..hammingThreshold) band are
    // caught only by the cross-pass union (LSH/exact/substring), so their
    // recall is measured, not guaranteed: the pipeline recall gate
    // (PipelineSpec, n=1000) and the pairs_dropped sidecars are the
    // evidence, and hold for the synthetic generator's duplicate mix. If
    // hammingThreshold or the block geometry changes — or the corpus
    // clusters its near-dups in that band — RETUNE blocks against a fresh
    // measured-recall run (the traced benchmark run's block.pairs.* and
    // block.dup_yield.* per pass) rather than trusting this comment.
    phashBlocks: Int = 2,
    jaccardThreshold: Double = 0.8,
    hammingThreshold: Int = 8,
    maxBucketSize: Int = 64,
    maxSmallClusterSize: Int = 10,
    seed: Long = 42L) {
  require(numHashes % bands == 0, "numHashes must be divisible by bands")
  def rowsPerBand: Int = numHashes / bands
}
