package graft.model

import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.types.{DataType, StringType}

/** Core data model for the dedup engine. The reference's candidate and
  * cluster types (bakdata/dedupe `Candidate.java:38-52`,
  * `Cluster.java:52-107`) are DataFrame shapes here, not element lists:
  * (id1, id2) pairs and an `(id -> cluster_id)` assignment table, so the
  * model scales to 10^12 rows (SURVEY.md §1.1).
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

/** The one order of record and cluster ids: Spark's interpreted ordering
  * of the id type — numeric for bigint, UTF-8 byte order for string — the
  * order Spark's `min`/`least` use, so connected components names a
  * cluster by this order's minimum. Every Scala-side choice of a minimum
  * or sorted id (refine, fusion, streaming clustering) uses it too:
  * `java.lang.String`'s own order compares UTF-16 units and disagrees with
  * UTF-8 above U+FFFF ("\uFF61" < "\uD83D\uDE00" in UTF-8, not in UTF-16).
  */
object IdOrdering {
  /** Spark's ordering of `idType` over its external (Scala) values. */
  def of[K](idType: DataType): Ordering[K] = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(idType)
    Ordering.by[K, Any](toCatalyst)(PhysicalDataType.ordering(idType))
  }

  /** UTF-8 byte order of string ids. */
  val string: Ordering[String] = of[String](StringType)
}

/** Pipeline configuration: every seed/threshold pinned for determinism
  * (SURVEY.md §7.5 risk 5).
  *
  * @param shingleK      char-shingle width over normalized caption
  * @param numHashes     MinHash signature length n
  * @param bands         LSH bands b (numHashes = bands * rowsPerBand)
  * @param simhashBits   SimHash width (<=60: fits the shared 60-bit hash)
  * @param simhashBandBits bits per simhash band-table block
  * @param jaccardThreshold  verify threshold on the weighted caption/phash/
  *        simhash similarity (Pipeline.classified)
  * @param phashBlocks   pigeonhole blocks over the 64-bit phash (4 x 16-bit
  *        blocks guarantee capture at Hamming <= 3 — covers lossy re-encode;
  *        more blocks catch larger distances but explode buckets on
  *        low-entropy images)
  * @param maxBucketSize LSH band-bucket cap (skew guard; dropped pairs counted)
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
    // Hamming <= blocks-1 (simhash <= 2, phash <= 1). The verifier has no
    // Hamming cutoff — Hamming similarities enter its weighted average — so
    // a DUPLICATE pair whose hashes differ in more bits than that is caught
    // only by the cross-pass union (LSH/exact/substring), and its recall is
    // measured, not guaranteed: the pipeline recall gates (PipelineSpec,
    // n=1000 and n=3000) and the pairs_dropped sidecars are the evidence,
    // and hold for the synthetic generator's duplicate mix. If the block
    // geometry changes — or the corpus puts its near-dups beyond the
    // pigeonhole distance — RETUNE blocks against a fresh measured-recall
    // run (the traced benchmark run's block.pairs.* and block.dup_yield.*
    // per pass) rather than trusting this comment.
    phashBlocks: Int = 2,
    jaccardThreshold: Double = 0.8,
    maxBucketSize: Int = 64,
    seed: Long = 42L) {
  require(numHashes % bands == 0, "numHashes must be divisible by bands")
  def rowsPerBand: Int = numHashes / bands
}
