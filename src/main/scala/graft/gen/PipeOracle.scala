package graft.gen

import graft.model.DedupConfig
import graft.sig.Signatures

/** Single-node brute-force oracle for the full dedup pipeline: applies the
  * verify cascade's exact semantics to EVERY pair (no blocking, no LSH, no
  * distributed machinery) and takes the union-find transitive closure —
  * the ground truth the distributed 5-stage pipeline must reproduce
  * pair-for-pair (the in-memory analog of the reference's e2e expected-set
  * check, `examples/src/test/java/.../PersonDeduplicationTest.java:69-86`).
  *
  * Shared with PipelineSpec (the recall/precision gates) and with the
  * `pipeline_canonical` catalog oracle's truth side table, so the test gate
  * and the hash gate agree by construction.
  */
object PipeOracle {

  final case class OFeat(id: String, norm: String, shs: Set[Int],
                         phash: Long, simhash: Long, chash: String)

  def oracleFeatures(recs: Seq[ImageGen.GenRecord], cfg: DedupConfig): Seq[OFeat] =
    recs.map { r =>
      val norm = Signatures.normalize(r.caption)
      OFeat(r.image_id, norm,
        Signatures.shingles(norm, cfg.shingleK).map(Signatures.fastHash32).toSet,
        r.phash,
        Signatures.simHashWith(Signatures.words(norm), cfg.simhashBits, Signatures.fastHash),
        java.security.MessageDigest.getInstance("MD5").digest(r.bytes)
          .map(b => f"$b%02x").mkString)
    }

  /** The verify cascade's exact semantics, applied to an arbitrary pair. */
  def oracleDuplicate(a: OFeat, b: OFeat, cfg: DedupConfig): Boolean = {
    if (a.chash == b.chash) return true
    val contains =
      (a.norm.length <= b.norm.length && a.norm.length >= cfg.shingleK && b.norm.contains(a.norm)) ||
      (b.norm.length < a.norm.length && b.norm.length >= cfg.shingleK && a.norm.contains(b.norm))
    if (contains) return true
    val u = (a.shs ++ b.shs).size
    val jac = if (u == 0) 1.0 else (a.shs & b.shs).size.toDouble / u
    val ph = 1.0 - Signatures.hamming(a.phash, b.phash) / 64.0
    val sh = 1.0 - Signatures.hamming(a.simhash, b.simhash) / cfg.simhashBits.toDouble
    if (jac < 0.05 && ph < 0.7 && sh < 0.7) return false
    (2 * jac + ph + sh) / 4 >= cfg.jaccardThreshold
  }

  /** Union-find transitive closure; union by min id, so every root is the
    * min member id of its component (the pipeline's ClusterIdGenerator).
    */
  def unionFind(ids: Seq[String], dupPairs: Seq[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: String): String = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    dupPairs.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    ids.map(i => i -> find(i)).toMap
  }

  /** Brute-force expected assignment: id -> cluster id (min member id). */
  def assign(recs: Seq[ImageGen.GenRecord], cfg: DedupConfig): Map[String, String] = {
    val feats = oracleFeatures(recs, cfg)
    val pairs = for {
      i <- feats.indices; j <- i + 1 until feats.length
      if oracleDuplicate(feats(i), feats(j), cfg)
    } yield (feats(i).id, feats(j).id)
    unionFind(feats.map(_.id), pairs)
  }
}
