package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.block.Blocking
import graft.cluster.ConnectedComponents
import graft.model.DedupConfig
import graft.sig.Signatures

/** The operator catalog: every SURVEY.md §2 operator (and the training-data
  * extensions) exposed as a named query over the driver's parquet tables,
  * plus its exactly-equivalent DuckDB oracle SQL (built by [[OracleGen]] —
  * the LSH/MinHash/SimHash stages are mirrored in the oracle with identical
  * integer arithmetic, not just the final thresholds).
  */
object Queries {

  import SparkEntry.table

  /** Config of the oracled MinHash/LSH query (kept modest so the SQL mirror
    * stays cheap; the flagship pipeline uses the full DedupConfig()).
    */
  val lshCfg: DedupConfig = DedupConfig(shingleK = 5, numHashes = 64, bands = 16)

  val ngramN = 3
  val ngramJaccardT = 0.6
  val minhashJaccardT = 0.8
  val simhashBlocks = 4
  val simhashMaxHamming = 8
  val substringK = 8
  val snmWindow = 3

  /** Inverted-index bucket cap (skew guard), mirrored in every oracle's
    * candidate CTE: a key shared by more than this many records is dropped
    * from PAIR GENERATION (its pairing is quadratic and its selectivity
    * near zero at scale — SURVEY.md §7.5 risk 2). Verification still counts
    * ALL shared keys, so Jaccard values are exact for surviving candidates.
    */
  val bucketCap = 256

  // ------------------------------------------------------------ helpers

  /** Memoized (doc_id, norm): the scan+normalize base of every text query.
    * `dd_substring` alone references it from ~6 subtrees (probe, cap
    * counts, probe-key collect, index, two text re-attach joins) — without
    * the memo each one re-reads the parquet and re-normalizes the full
    * corpus (measured as the dominant cost of that query at sf0.1).
    */
  private[graft] def docNorm(spark: SparkSession, dir: String): DataFrame =
    QueryCache.memo(spark, "doc_norm", dir) {
      // repartition BEFORE normalize: the documents parquet lands in ~3
      // scan partitions (single-file rowgroup layout caps split
      // parallelism), and every downstream stage inherits the cache's
      // partitioning — without this, each text query's heaviest subtree
      // runs ~3-way on a 32-core session (profiled: one 8 s broadcast
      // build at 3 tasks dominating dd_substring)
      table(spark, dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(col("doc_id"), Signatures.normalizeCol(col("text")).as("norm"))
    }

  /** Memoized (id, shs) char-5 shingles as SORTED DISTINCT hash60 longs
    * (native Hash60Shingles kernel — one JVM pass; the old
    * sequence→substring→md5→conv expression chain was the dominant cost of
    * `dd_minhash_lsh`, 16 s at sf0.1). hash60 is 60-bit and injective in
    * practice, so MinHash signatures (which reduce via floorMod(hash60, P)
    * either way) and Jaccard counts over these longs equal the
    * string-shingle values the oracle computes.
    */
  private def docCharShingles(spark: SparkSession, dir: String): DataFrame =
    QueryCache.memo(spark, "char_shs60", dir) {
      docNorm(spark, dir)
        .select(col("doc_id").as("id"),
          Signatures.hash60ShinglesCol(col("norm"), lshCfg.shingleK).as("shs"))
    }

  /** Memoized (id, shs): SORTED hash60 word-ngram shingle arrays — the
    * shared feature stage of the five ngram-family queries. Hashing is
    * injective in practice (60-bit), so intersection/union counts equal the
    * string-shingle counts the oracle computes.
    */
  def docHashedShingles(spark: SparkSession, dir: String): DataFrame =
    QueryCache.memo(spark, "ngram_shs", dir) {
      docNorm(spark, dir).select(col("doc_id").as("id"),
        array_sort(transform(Signatures.wordNgramsCol(col("norm"), ngramN),
          s => Signatures.hash60Col(s))).as("shs"))
    }

  /** Memoized shared edge stage: capped inverted-index candidate pairs with
    * exact Jaccard for EVERY candidate (no threshold) — `dd_ngram_jaccard`,
    * `classify_rules`, `cc_clusters`, `fuse_canonical` and `refine_clusters`
    * all derive from this one persisted DataFrame (round-1 bench spent 271 s
    * recomputing it per query). Candidate generation is bucket-capped
    * (quadratic-pairing skew guard); verification counts all shared
    * shingles, so Jaccard is exact.
    */
  /** Memoized capped inverted-index candidate pairs over the hashed word
    * n-gram shingles — shared by the Jaccard family ([[ngramScoredAll]])
    * and the containment query (which scores the same candidates with an
    * asymmetric measure).
    */
  private def ngramCands(spark: SparkSession, dir: String): DataFrame =
    QueryCache.memo(spark, "ngram_cands", dir) {
      val keyed = docHashedShingles(spark, dir)
        .select(col("id"), explode(col("shs")).as("key"))
      Blocking.pairsFromKeys(keyed, Some(bucketCap))
    }

  def ngramScoredAll(spark: SparkSession, dir: String): DataFrame =
    QueryCache.memo(spark, "ngram_scored", dir) {
      val shs = docHashedShingles(spark, dir)
      val cands = ngramCands(spark, dir)
      val s1 = shs.select(col("id").as("id1"), col("shs").as("sh1"))
      val s2 = shs.select(col("id").as("id2"), col("shs").as("sh2"))
      cands.join(s1, Seq("id1")).join(s2, Seq("id2"))
        .select(col("id1"), col("id2"),
          graft.functions.SortedIntersect.jaccardSorted(col("sh1"), col("sh2")).as("jaccard"))
    }

  /** Memoized CC assignment over the DUPLICATE ngram edges (shared by
    * `cc_clusters`, `fuse_canonical`, `refine_clusters`).
    */
  def ccAssign(spark: SparkSession, dir: String): DataFrame =
    QueryCache.memo(spark, "cc_assign", dir) {
      val edges = ddNgramJaccard(spark, dir).select(col("id1"), col("id2"))
      ConnectedComponents.assignAll(table(spark, dir, "documents"), "doc_id", edges)
    }

  // ------------------------------------------------------------ queries

  /** Exact deduplication by full-content hash (hash-groupBy; one shuffle on
    * a 128-bit key, no payload movement).
    */
  def ddExact(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("rep_id"))

  private val ddExactSql =
    """SELECT md5(text) AS content_hash, count(*) AS n_copies,
       min(doc_id) AS rep_id FROM documents GROUP BY 1"""

  /** N-gram Jaccard near-dup pairs via inverted-index blocking (exact, not
    * approximate: every sharing pair is a candidate). The distributed form
    * of the reference's pairwise jaccard measure applied at corpus scale.
    */
  def ddNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramScoredAll(spark, dir).where(col("jaccard") >= ngramJaccardT)

  private val ddNgramJaccardSql =
    s"""WITH ${OracleGen.nrmCte},
${OracleGen.wordNgramCtes(ngramN)},
${OracleGen.invertedIndexCandsCte},
${OracleGen.jaccardVerifySql(ngramJaccardT)}"""

  /** MinHash + LSH banding near-dup pairs — the scale path replacing
    * sorted-neighborhood blocking (SURVEY.md §2.2): char-5 shingles ->
    * 64-perm MinHash -> 16 bands -> band-equality join -> exact Jaccard
    * verify at 0.8. The oracle mirrors every stage with identical integer
    * arithmetic, including banding.
    */
  /** Memoized MinHash band-key index (id, key) — shared by the all-pairs
    * LSH query, the skew histogram, and the incremental batch path, so the
    * signature stage runs once per session/dir.
    */
  private def mhKeyed(spark: SparkSession, dir: String): DataFrame =
    QueryCache.memo(spark, "mh_keyed", dir) {
      val shs = docCharShingles(spark, dir)
      val sig = Signatures.minHashFromHashesCol(col("shs"), lshCfg)
      shs.select(col("id"), explode(Signatures.bandKeysCol(sig, lshCfg.bands)).as("key"))
    }

  def ddMinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val shs = docCharShingles(spark, dir)
    val keyed = mhKeyed(spark, dir)
    val cands = Blocking.pairsFromKeys(keyed, Some(bucketCap))
    val s1 = shs.select(col("id").as("id1"), col("shs").as("sh1"))
    val s2 = shs.select(col("id").as("id2"), col("shs").as("sh2"))
    cands.join(s1, Seq("id1")).join(s2, Seq("id2"))
      .select(col("id1"), col("id2"),
        graft.functions.SortedIntersect.jaccardSorted(col("sh1"), col("sh2")).as("jaccard"))
      .where(col("jaccard") >= minhashJaccardT)
  }

  private val ddMinhashLshSql =
    s"""WITH ${OracleGen.nrmCte},
${OracleGen.charShingleCtes(lshCfg.shingleK)},
${OracleGen.minHashCandsCtes(lshCfg)},
${OracleGen.jaccardVerifySql(minhashJaccardT)}"""

  /** Band-bucket skew histogram over the MinHash LSH index — the
    * observability a 100 TB run needs BEFORE committing to a cap: for each
    * bucket size, how many band buckets have it and how many intra-bucket
    * pairs enumerating them would cost (`kept` marks sizes under the cap).
    * The n=4M probe (BASELINE.md) showed the caps cut 114B pairs to 91M;
    * this query is that measurement as a first-class operator. Pure
    * integer arithmetic; two shuffles (key count, size rollup), both on
    * 8-byte keys.
    */
  def ddSkewStats(spark: SparkSession, dir: String): DataFrame =
    mhKeyed(spark, dir)
      .groupBy("key").agg(count(lit(1)).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("n_buckets"))
      .select(col("n").as("bucket_size"), col("n_buckets"),
        expr("n * (n - 1) DIV 2 * n_buckets").as("pairs_quadratic"),
        (col("n") <= bucketCap).as("kept"))

  private val ddSkewStatsSql =
    s"""WITH ${OracleGen.nrmCte},
${OracleGen.charShingleCtes(lshCfg.shingleK)},
${OracleGen.minHashBandCtes(lshCfg)},
bs AS (SELECT key, count(*) AS n FROM bk GROUP BY 1)
SELECT n AS bucket_size, count(*) AS n_buckets,
  CAST(n * (n - 1) // 2 * count(*) AS BIGINT) AS pairs_quadratic,
  n <= $bucketCap AS kept
FROM bs GROUP BY n"""

  /** Signature-space verification threshold for [[ddMinhashEst]]. */
  val minhashEstT = 0.5

  /** MinHash near-dup pairs verified IN SIGNATURE SPACE: the estimated
    * Jaccard is the fraction of agreeing MinHash components (the unbiased
    * classic estimator, Broder 1997), so the verify stage co-locates two
    * fixed 64-long signatures per candidate pair instead of two full
    * shingle arrays. At 100 TB this is the verify path that keeps pair
    * traffic CONSTANT per pair regardless of document length — the exact
    * companion (`dd_minhash_lsh`) moves O(|doc|) shingle hashes per pair.
    * The estimator's resolution is 1/numHashes, so this path suits
    * high-recall sweeps (threshold well under the target similarity) with
    * the exact verify reserved for the survivors.
    *
    * Same banded candidate generation (and bucket cap) as the exact path;
    * the oracle mirrors the per-component agreement count integer-exactly.
    */
  def ddMinhashEst(spark: SparkSession, dir: String): DataFrame = {
    val sigs = QueryCache.memo(spark, "mh_sigs", dir) {
      docCharShingles(spark, dir).select(col("id"),
        Signatures.minHashFromHashesCol(col("shs"), lshCfg).as("sig"))
    }
    val cands = Blocking.pairsFromKeys(mhKeyed(spark, dir), Some(bucketCap))
    val s1 = sigs.select(col("id").as("id1"), col("sig").as("sig1"))
    val s2 = sigs.select(col("id").as("id2"), col("sig").as("sig2"))
    cands.join(s1, Seq("id1")).join(s2, Seq("id2"))
      .select(col("id1"), col("id2"),
        size(filter(zip_with(col("sig1"), col("sig2"), (a, b) => a === b),
          x => x)).cast("long").as("n_match"))
      .withColumn("est_jaccard",
        col("n_match").cast("double") / lshCfg.numHashes)
      .where(col("est_jaccard") >= minhashEstT)
  }

  private val ddMinhashEstSql =
    s"""WITH ${OracleGen.nrmCte},
${OracleGen.charShingleCtes(lshCfg.shingleK)},
${OracleGen.minHashCandsCtes(lshCfg)},
m AS (
  SELECT c.id1, c.id2,
    CAST(sum(CASE WHEN a.mv = b.mv THEN 1 ELSE 0 END) AS BIGINT) AS n_match
  FROM cands c
  JOIN mv a ON a.doc_id = c.id1
  JOIN mv b ON b.doc_id = c.id2 AND b.i = a.i
  GROUP BY 1, 2)
SELECT id1, id2, n_match,
  CAST(n_match AS DOUBLE) / ${lshCfg.numHashes} AS est_jaccard
FROM m
WHERE CAST(n_match AS DOUBLE) / ${lshCfg.numHashes} >= $minhashEstT"""

  /** Batch docs = doc_id % incrMod == 0, the "today's crawl" side; the rest
    * is the standing corpus the batch dedupes against.
    */
  val incrMod = 5

  /** Incremental dedup: a new batch against the EXISTING corpus — the
    * daily-increment pattern at 100 TB, where re-clustering the standing
    * corpus is not an option. Two layers, both one-directional (batch
    * probes, corpus is the reusable index): exact = identical normalized
    * content (128-bit content hash join; the standing hash index is a
    * persisted artifact in production), near = MinHash band match +
    * exact-Jaccard verify at the LSH threshold. Emits one row per batch
    * doc: (doc_id, dup_of = min matching corpus id with exact taking
    * precedence, -1 if clean; method in exact|near|unique). The batch side
    * shuffles only its own band keys; candidate generation is capped on
    * TOTAL bucket size with the same discipline (and the same oracle
    * mirror) as dd_minhash_lsh.
    */
  def ddIncremental(spark: SparkSession, dir: String): DataFrame = {
    val isBatch = (col("doc_id") % incrMod) === 0
    val norm = docNorm(spark, dir)
    val hashed = norm.select(col("doc_id"), md5(col("norm").cast("binary")).as("h"))
    val exact = hashed.where(isBatch)
      .join(hashed.where(!isBatch).select(col("h"), col("doc_id").as("eid")), "h")
      .groupBy("doc_id").agg(min(col("eid")).as("exact_of"))

    val keyed = mhKeyed(spark, dir)
    val okKeys = keyed.groupBy("key").agg(count(lit(1)).as("kn"))
      .where(col("kn") >= 2 && col("kn") <= bucketCap).select("key")
    val kb = keyed.where((col("id") % incrMod) === 0).join(okKeys, "key")
    val ke = keyed.where((col("id") % incrMod) =!= 0).select(col("key"), col("id").as("eid"))
    val cands = kb.join(ke, "key").select(col("id"), col("eid")).distinct()
    val shs = docCharShingles(spark, dir)
    val near = cands
      .join(shs.select(col("id"), col("shs").as("sh1")), Seq("id"))
      .join(shs.select(col("id").as("eid"), col("shs").as("sh2")), Seq("eid"))
      .where(graft.functions.SortedIntersect.jaccardSorted(col("sh1"), col("sh2"))
        >= minhashJaccardT)
      .groupBy(col("id").as("doc_id")).agg(min(col("eid")).as("near_of"))

    norm.where(isBatch).select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("exact_of"), col("near_of"), lit(-1L)).as("dup_of"),
        when(col("exact_of").isNotNull, "exact")
          .when(col("near_of").isNotNull, "near")
          .otherwise("unique").as("method"))
  }

  private val ddIncrementalSql =
    s"""WITH ${OracleGen.nrmCte},
${OracleGen.charShingleCtes(lshCfg.shingleK)},
${OracleGen.minHashBandCtes(lshCfg)},
bok AS (SELECT key FROM bk GROUP BY key HAVING count(*) BETWEEN 2 AND $bucketCap),
cands AS (
  SELECT DISTINCT a.doc_id AS id, b.doc_id AS eid
  FROM bok k
  JOIN bk a ON a.key = k.key AND a.doc_id % $incrMod = 0
  JOIN bk b ON b.key = k.key AND b.doc_id % $incrMod <> 0),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT c.id, c.eid, count(*) AS c
  FROM cands c
  JOIN sh s1 ON s1.doc_id = c.id
  JOIN sh s2 ON s2.doc_id = c.eid AND s2.sh = s1.sh
  GROUP BY 1, 2),
near AS (
  SELECT i.id AS doc_id, min(i.eid) AS near_of
  FROM inter i
  JOIN cnt c1 ON c1.doc_id = i.id
  JOIN cnt c2 ON c2.doc_id = i.eid
  WHERE CAST(i.c AS DOUBLE) / (c1.n + c2.n - i.c) >= $minhashJaccardT
  GROUP BY 1),
ex AS (
  SELECT b.doc_id, min(e.doc_id) AS exact_of
  FROM nrm b JOIN nrm e ON e.norm = b.norm AND e.doc_id % $incrMod <> 0
  WHERE b.doc_id % $incrMod = 0
  GROUP BY 1)
SELECT n.doc_id,
  coalesce(x.exact_of, nr.near_of, -1) AS dup_of,
  CASE WHEN x.exact_of IS NOT NULL THEN 'exact'
       WHEN nr.near_of IS NOT NULL THEN 'near'
       ELSE 'unique' END AS method
FROM nrm n
LEFT JOIN ex x ON x.doc_id = n.doc_id
LEFT JOIN near nr ON nr.doc_id = n.doc_id
WHERE n.doc_id % $incrMod = 0"""

  /** Full incremental-pipeline catalog row — [[ddIncremental]]'s
    * batch-vs-corpus shape extended through clustering, the job a 100 TB
    * corpus runs on every crawl increment: the batch (doc_id % incrMod
    * == 0) is blocked and verified against the standing corpus (shared
    * ngram-jaccard stage), and the verified edges feed
    * [[ConnectedComponents.incrementalAssignDelta]] against the STANDING
    * assignment (CC over corpus-only pairs) — only touched clusters
    * re-cluster, previously-emitted cluster ids survive unless merged
    * (ConsistentClustering semantics), and the standing table itself is
    * never shuffled (PlanSpec-gated on the primitive). Output: every doc's
    * cluster id plus its increment status (batch / stable / merged).
    */
  def pipelineIncremental(spark: SparkSession, dir: String): DataFrame = {
    val pairs = ddNgramJaccard(spark, dir).select(col("id1"), col("id2"))
    val b1 = (col("id1") % incrMod) === 0
    val b2 = (col("id2") % incrMod) === 0
    val pc = pairs.where(!b1 && !b2)
    val pb = pairs.where(b1 || b2)
    val docs = table(spark, dir, "documents")
    val standing = QueryCache.memo(spark, "cc_assign_corpus", dir) {
      ConnectedComponents.assignAll(
        docs.where((col("doc_id") % incrMod) =!= 0), "doc_id", pc)
    }
    val batchIds = docs.where((col("doc_id") % incrMod) === 0)
      .select(col("doc_id").as("id"))
    ConnectedComponents.incrementalAssignDelta(standing, batchIds, pb)
      .select(col("id").as("doc_id"), col("cluster_id"), col("status"))
  }

  private val pipelineIncrementalSql =
    s"""WITH RECURSIVE ${OracleGen.nrmCte},
${OracleGen.wordNgramCtes(ngramN)},
${OracleGen.invertedIndexCandsCte},
${OracleGen.jaccardPairsCte(ngramJaccardT)},
pc AS (SELECT id1, id2 FROM pairs WHERE id1 % $incrMod <> 0 AND id2 % $incrMod <> 0),
pb AS (SELECT id1, id2 FROM pairs WHERE id1 % $incrMod = 0 OR id2 % $incrMod = 0),
ec AS (SELECT id1 AS a, id2 AS b FROM pc UNION ALL SELECT id2, id1 FROM pc),
reachc(n, r) AS (
  SELECT doc_id, doc_id FROM documents WHERE doc_id % $incrMod <> 0
  UNION
  SELECT reachc.n, e.b FROM reachc JOIN ec e ON e.a = reachc.r),
ccc AS (SELECT n AS doc_id, min(r) AS cluster_id FROM reachc GROUP BY 1),
ep AS (SELECT id1 AS id FROM pb UNION SELECT id2 FROM pb),
aff AS (SELECT DISTINCT c.cluster_id FROM ccc c JOIN ep ON ep.id = c.doc_id),
am AS (SELECT c.doc_id, c.cluster_id FROM ccc c JOIN aff USING (cluster_id)),
ed AS (
  SELECT doc_id AS a, cluster_id AS b FROM am WHERE doc_id <> cluster_id
  UNION ALL SELECT cluster_id, doc_id FROM am WHERE doc_id <> cluster_id
  UNION ALL SELECT id1, id2 FROM pb
  UNION ALL SELECT id2, id1 FROM pb),
nodes AS (SELECT doc_id FROM documents WHERE doc_id % $incrMod = 0
          UNION SELECT doc_id FROM am),
reachd(n, r) AS (
  SELECT doc_id, doc_id FROM nodes
  UNION
  SELECT reachd.n, e.b FROM reachd JOIN ed e ON e.a = reachd.r),
ccd AS (SELECT n AS doc_id, min(r) AS cid FROM reachd GROUP BY 1),
remap AS (
  SELECT d.cid, min(c.cluster_id) AS stable_id
  FROM ccd d LEFT JOIN ccc c ON c.doc_id = d.doc_id
  GROUP BY 1),
delta AS (
  SELECT d.doc_id, coalesce(r.stable_id, d.cid) AS cluster_id,
    CASE WHEN c.cluster_id IS NULL THEN 'batch'
         WHEN coalesce(r.stable_id, d.cid) = c.cluster_id THEN 'stable'
         ELSE 'merged' END AS status
  FROM ccd d
  JOIN remap r ON r.cid = d.cid
  LEFT JOIN ccc c ON c.doc_id = d.doc_id)
SELECT doc_id, cluster_id, status FROM delta
UNION ALL
SELECT c.doc_id, c.cluster_id, 'stable' AS status
FROM ccc c LEFT JOIN aff a ON a.cluster_id = c.cluster_id
WHERE a.cluster_id IS NULL"""

  // Bloom membership filter: 2^20 bits (128 KB broadcast) x 5 probes.
  // At the corpus/batch split below (~80%/20% of n docs) the load factor
  // stays << 1 at sf0.1; production sizes m from the corpus cardinality
  // (m ≈ -n·ln(p)/ln(2)^2) and ships a few GB per executor at 10^12 rows,
  // which is exactly the regime where "never join the corpus for a
  // membership test" pays for itself.
  val bloomM = 1 << 20
  val bloomK = 5

  /** Standing-corpus membership dedup via a broadcast Bloom filter — the
    * cheapest layer of an incremental ingest (below dd_incremental's
    * exact+near layers): fold the corpus content fingerprints into an
    * m-bit sketch once (shuffle-free treeAggregate), broadcast it, and
    * test each batch doc map-side. Only BLOOM HITS proceed to the exact
    * content-hash join, so the join's probe side shrinks from |batch| to
    * |dups| + |false positives| — the corpus itself is never shuffled for
    * the membership test. Positions use Kirsch–Mitzenmacher double
    * hashing over two independent 60-bit md5 halves, so the oracle
    * reproduces the sketch with exact integer arithmetic ("all k
    * positions present in the corpus position set" IS bloom membership).
    * Emits one row per batch doc: (doc_id, bloom_hit, dup_of, status in
    * dup|fp|new); `new` is the bloom guarantee (no false negatives), `fp`
    * measures the sketch's false-positive cost.
    */
  def ddBloom(spark: SparkSession, dir: String): DataFrame = {
    val mh = md5(col("norm").cast("binary"))
    // null-text docs carry no content fingerprint: exempt from membership
    // (mirrored in the oracle's hs CTE) — a NULL hash would poison the
    // sketch fold
    val hashed = docNorm(spark, dir).where(col("norm").isNotNull).select(
      col("doc_id"),
      conv(substring(mh, 1, 15), 16, 10).cast("long").as("h1"),
      conv(substring(mh, 17, 15), 16, 10).cast("long").as("h2"),
      mh.as("h"))
    val isBatch = (col("doc_id") % incrMod) === 0
    val corpus = hashed.where(!isBatch)
    val bits = graft.functions.Bloom.buildBits(corpus, bloomM, bloomK)
    val probed = hashed.where(isBatch).withColumn("bloom_hit",
      graft.functions.Bloom.containsCol(col("h1"), col("h2"), bits, bloomM, bloomK))
    val exact = probed.where(col("bloom_hit"))
      .join(corpus.select(col("h"), col("doc_id").as("eid")), "h")
      .groupBy("doc_id").agg(min(col("eid")).as("exact_of"))
    probed
      .join(exact, Seq("doc_id"), "left")
      .select(col("doc_id"), col("bloom_hit"),
        coalesce(col("exact_of"), lit(-1L)).as("dup_of"),
        when(col("exact_of").isNotNull, "dup")
          .when(col("bloom_hit"), "fp")
          .otherwise("new").as("status"))
  }

  private val ddBloomSql =
    s"""WITH ${OracleGen.nrmCte},
hs AS (
  SELECT doc_id,
    ('0x' || substr(md5(norm), 1, 15))::BIGINT AS h1,
    ('0x' || substr(md5(norm), 17, 15))::BIGINT AS h2,
    md5(norm) AS h
  FROM nrm WHERE norm IS NOT NULL),
cpos AS (
  SELECT DISTINCT (h1 + t.i * h2) % $bloomM AS pos
  FROM hs, range($bloomK) t(i) WHERE doc_id % $incrMod <> 0),
bp AS (
  SELECT doc_id, (h1 + t.i * h2) % $bloomM AS pos
  FROM hs, range($bloomK) t(i) WHERE doc_id % $incrMod = 0),
hit AS (
  SELECT b.doc_id, count(*) = count(c.pos) AS bloom_hit
  FROM bp b LEFT JOIN cpos c ON c.pos = b.pos
  GROUP BY 1),
ex AS (
  SELECT b.doc_id, min(e.doc_id) AS exact_of
  FROM hs b JOIN hs e ON e.h = b.h AND e.doc_id % $incrMod <> 0
  WHERE b.doc_id % $incrMod = 0
  GROUP BY 1)
SELECT ht.doc_id, ht.bloom_hit,
  coalesce(x.exact_of, -1) AS dup_of,
  CASE WHEN x.exact_of IS NOT NULL THEN 'dup'
       WHEN ht.bloom_hit THEN 'fp' ELSE 'new' END AS status
FROM hit ht
LEFT JOIN ex x ON x.doc_id = ht.doc_id"""

  /** SimHash near-dup pairs: 60-bit SimHash over word tokens, pigeonhole
    * bit-block blocking (4 x 15-bit blocks), Hamming verify.
    */
  def ddSimhash(spark: SparkSession, dir: String): DataFrame = {
    // memoized: the sims frame feeds the blocking index AND both verify
    // sides — same 3x-recompute shape as dd_minhash_lsh
    val sims = QueryCache.memo(spark, "simhash_sig", dir) {
      docNorm(spark, dir).select(col("doc_id").as("id"),
        Signatures.simHashWordsCol(col("norm"), 60).as("sh"))
    }
    val cands = Blocking.bitBlockPairs(sims, "id", "sh", simhashBlocks, 60, Some(bucketCap))
    val s1 = sims.select(col("id").as("id1"), col("sh").as("h1"))
    val s2 = sims.select(col("id").as("id2"), col("sh").as("h2"))
    cands.join(s1, Seq("id1")).join(s2, Seq("id2"))
      .withColumn("hamming", Signatures.hammingCol(col("h1"), col("h2")).cast("int"))
      .where(col("hamming") <= simhashMaxHamming)
      .select(col("id1"), col("id2"), col("hamming"))
  }

  private val ddSimhashSql =
    s"""WITH ${OracleGen.nrmCte},
${OracleGen.simHashCtes(60)},
${OracleGen.bitBlockCandsCte(simhashBlocks, 60)}
SELECT c.id1, c.id2, CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
FROM cands c JOIN sim a ON a.doc_id = c.id1 JOIN sim b ON b.doc_id = c.id2
WHERE bit_count(xor(a.sh, b.sh)) <= $simhashMaxHamming"""

  /** Substring-containment duplicates (the suffix/substring pass of the
    * north_star): A's normalized text contained verbatim in B's.
    */
  def ddSubstring(spark: SparkSession, dir: String): DataFrame =
    Blocking.substringPairs(docNorm(spark, dir), "doc_id", "norm", substringK,
      Some(bucketCap))

  /** Oracle mirror of the probe-side prefix cap: a first-k-gram shared by
    * more than `bucketCap` probes is dropped from probing (the Spark path's
    * skew guard), so the oracle joins probes through the surviving-key CTE.
    */
  private val ddSubstringSql =
    s"""WITH ${OracleGen.nrmCte},
probe AS (
  SELECT doc_id, norm, substr(norm, 1, $substringK) AS key
  FROM nrm WHERE length(norm) >= $substringK),
okk AS (
  SELECT key FROM probe GROUP BY key HAVING count(*) <= $bucketCap)
SELECT DISTINCT least(a.doc_id, b.doc_id) AS id1, greatest(a.doc_id, b.doc_id) AS id2
FROM probe a JOIN okk USING (key) JOIN nrm b
  ON a.doc_id <> b.doc_id
 AND length(a.norm) <= length(b.norm)
 AND strpos(b.norm, a.norm) > 0"""

  /** Sorted-neighborhood blocking (the reference's candidate selection,
    * `OnlineSortedNeighborhoodMethod.java:64-189`) in offline form: order by
    * (key, id), pair each record with its w-1 predecessors.
    */
  def snmBlocking(spark: SparkSession, dir: String): DataFrame =
    Blocking.snmPairsScalable(table(spark, dir, "customer"), "c_custkey", col("c_name"), snmWindow)

  private val snmBlockingSql =
    s"""WITH b AS (
  SELECT c_custkey AS id, c_name AS key FROM customer WHERE c_name IS NOT NULL),
l AS (
  SELECT id,
    lag(id, 1) OVER (ORDER BY key, id) AS p1,
    lag(id, 2) OVER (ORDER BY key, id) AS p2
  FROM b)
SELECT DISTINCT least(id, p) AS id1, greatest(id, p) AS id2
FROM (SELECT id, p1 AS p FROM l UNION ALL SELECT id, p2 FROM l)
WHERE p IS NOT NULL"""

  /** Transitive clustering: connected components (large-star/small-star)
    * over ngram-Jaccard DUPLICATE edges; cluster id = min member id;
    * singletons map to themselves (ref `TransitiveClosure.java:52-140`).
    */
  def ccClusters(spark: SparkSession, dir: String): DataFrame =
    ccAssign(spark, dir).select(col("id").as("doc_id"), col("cluster_id"))

  private val ccClustersSql =
    s"""WITH RECURSIVE ${OracleGen.nrmCte},
${OracleGen.wordNgramCtes(ngramN)},
${OracleGen.invertedIndexCandsCte},
${OracleGen.jaccardPairsCte(ngramJaccardT)},
${OracleGen.ccSql}"""

  /** Cluster keep-list — the hard-dedup OUTPUT stage over [[ccClusters]]'
    * assignments: per document its cluster, the cluster's elected
    * representative ("keep the most complete copy": longest normalized
    * text, ties to the lowest doc_id), the keep flag, and the soft-dedup
    * sampling weight 1/cluster_size (sampling with these weights
    * reproduces the dedup'd distribution without dropping rows — the
    * SlimPajama-style alternative to hard removal). Election semantics in
    * [[graft.ops.Keeplist]]: an argmin aggregate, never a per-cluster
    * window, so the giant cluster the n=4M probe produced costs one
    * combiner cell, not one task.
    */
  def ddKeeplist(spark: SparkSession, dir: String): DataFrame = {
    val assign = ccAssign(spark, dir).select(col("id").as("doc_id"), col("cluster_id"))
    val scores = docNorm(spark, dir)
      .select(col("doc_id"), length(col("norm")).cast("long").as("n_chars"))
    graft.ops.Keeplist.elect(assign, scores, "doc_id", "n_chars")
      .withColumn("weight",
        lit(1.0).cast("double") / col("cluster_size").cast("double"))
  }

  private val ddKeeplistSql =
    s"""WITH RECURSIVE ${OracleGen.nrmCte},
${OracleGen.wordNgramCtes(ngramN)},
${OracleGen.invertedIndexCandsCte},
${OracleGen.jaccardPairsCte(ngramJaccardT)},
${OracleGen.ccCte},
ln AS (SELECT doc_id, CAST(length(norm) AS BIGINT) AS n_chars FROM nrm),
sc AS (SELECT c.doc_id, c.cluster_id, l.n_chars FROM cc c JOIN ln l USING (doc_id)),
rp AS (
  SELECT cluster_id, doc_id AS rep_id FROM (
    SELECT cluster_id, doc_id,
      row_number() OVER (PARTITION BY cluster_id
                         ORDER BY n_chars DESC, doc_id) AS rn
    FROM sc) WHERE rn = 1),
cs AS (SELECT cluster_id, count(*) AS cluster_size FROM sc GROUP BY 1)
SELECT s.doc_id, s.cluster_id, c.cluster_size, r.rep_id,
  s.doc_id = r.rep_id AS keep, s.n_chars,
  CAST(1 AS DOUBLE) / c.cluster_size AS weight
FROM sc s JOIN rp r USING (cluster_id) JOIN cs c USING (cluster_id)"""

  /** Post-clustering size histogram — the monitoring surface a 100 TB
    * dedup run watches per partition-day: how many clusters of each size,
    * how many documents they hold, how many a keep-one policy would drop.
    * Two partial-combined aggregates; rows out = distinct cluster sizes.
    */
  def ddClusterStats(spark: SparkSession, dir: String): DataFrame =
    ccAssign(spark, dir)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_size")).as("n_docs"),
        sum(col("cluster_size") - 1).as("n_dropped"))

  private val ddClusterStatsSql =
    s"""WITH RECURSIVE ${OracleGen.nrmCte},
${OracleGen.wordNgramCtes(ngramN)},
${OracleGen.invertedIndexCandsCte},
${OracleGen.jaccardPairsCte(ngramJaccardT)},
${OracleGen.ccCte},
cs AS (SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY 1)
SELECT cluster_size, count(*) AS n_clusters,
  CAST(sum(cluster_size) AS BIGINT) AS n_docs,
  CAST(sum(cluster_size - 1) AS BIGINT) AS n_dropped
FROM cs GROUP BY 1"""

  /** Minimum containment |A∩B| / min(|A|,|B|) for the asymmetric near-dup
    * pass — catches subset/quote duplicates (a short doc embedded in a
    * long one) whose Jaccard sits far below [[ngramJaccardT]] because the
    * union is dominated by the longer side. The standard companion to the
    * symmetric Jaccard pass in web-corpus dedup (the "containment" of
    * Broder's resemblance/containment pair).
    */
  val containmentT = 0.9

  /** Asymmetric containment near-dup pairs over the SAME capped
    * inverted-index candidates as the Jaccard family (memoized
    * [[ngramCands]]; the scoring join re-runs with the asymmetric
    * denominator — one sort-merge join, no new blocking pass). Outputs
    * integer sizes and a single-division double, hash-safe.
    */
  def ddContainment(spark: SparkSession, dir: String): DataFrame = {
    val shs = docHashedShingles(spark, dir)
    val s1 = shs.select(col("id").as("id1"), col("shs").as("sh1"))
    val s2 = shs.select(col("id").as("id2"), col("shs").as("sh2"))
    ngramCands(spark, dir).join(s1, Seq("id1")).join(s2, Seq("id2"))
      .withColumn("n_common",
        graft.functions.SortedIntersect.card(col("sh1"), col("sh2")).cast("long"))
      .withColumn("n1", size(col("sh1")).cast("long"))
      .withColumn("n2", size(col("sh2")).cast("long"))
      .withColumn("containment",
        col("n_common").cast("double") / least(col("n1"), col("n2")))
      .where(col("containment") >= containmentT)
      .select(col("id1"), col("id2"), col("n1"), col("n2"), col("n_common"),
        col("containment"))
  }

  private val ddContainmentSql =
    s"""WITH ${OracleGen.nrmCte},
${OracleGen.wordNgramCtes(ngramN)},
${OracleGen.invertedIndexCandsCte},
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT c.id1, c.id2, count(*) AS c
  FROM cands c
  JOIN sh s1 ON s1.doc_id = c.id1
  JOIN sh s2 ON s2.doc_id = c.id2 AND s2.sh = s1.sh
  GROUP BY 1, 2)
SELECT i.id1, i.id2,
  CAST(c1.n AS BIGINT) AS n1, CAST(c2.n AS BIGINT) AS n2,
  CAST(i.c AS BIGINT) AS n_common,
  CAST(i.c AS DOUBLE) / least(c1.n, c2.n) AS containment
FROM inter i
JOIN cnt c1 ON c1.doc_id = i.id1
JOIN cnt c2 ON c2.doc_id = i.id2
WHERE CAST(i.c AS DOUBLE) / least(c1.n, c2.n) >= $containmentT"""

  /** CDC window size (bytes) and boundary modulus (expected chunk length).
    * mod 16 over ~300-char docs yields ~18 chunks/doc — enough shared
    * chunks between near-dup docs for the storage-savings signal.
    */
  val cdcK = 8
  val cdcMod = 16

  /** Content-defined-chunking dedup — the storage-side dedup a 100 TB
    * corpus store runs below the semantic layer: chunk every document at
    * content-defined boundaries (positional rolling-hash rule, native
    * [[graft.functions.SigExprs.cdcChunks]] kernel — boundaries survive edits
    * elsewhere in the doc, unlike fixed-width chunking), then keep only
    * the globally-first instance of each chunk (first = min (doc_id, idx),
    * an argmin AGGREGATE per chunk hash — never a window, so a
    * pathologically common chunk costs a combiner cell, not a task).
    * Per doc: chunk count, kept count, total and saved bytes.
    */
  def ddCdc(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.cdcDedup(docNorm(spark, dir), "norm", cdcK, cdcMod)

  private val ddCdcSql =
    s"""WITH ${OracleGen.nrmCte},
base AS (SELECT doc_id, norm, length(norm) AS l FROM nrm WHERE length(norm) > 0),
pos AS (
  SELECT doc_id, norm, unnest(generate_series($cdcK, l)) AS i
  FROM base WHERE l >= $cdcK),
bnd AS (
  SELECT doc_id, i FROM pos
  WHERE ${Signatures.hash60Sql(s"substr(norm, i - ${cdcK - 1}, $cdcK)")} % $cdcMod = 0),
cuts AS (
  SELECT doc_id,
    coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i), 0) + 1 AS st,
    i AS en
  FROM bnd),
tails AS (
  SELECT b.doc_id, coalesce(max(d.i), 0) + 1 AS st, max(b.l) AS en
  FROM base b LEFT JOIN bnd d USING (doc_id)
  GROUP BY b.doc_id HAVING coalesce(max(d.i), 0) < max(b.l)),
seg AS (SELECT * FROM cuts UNION ALL SELECT * FROM tails),
ch AS (
  SELECT g.doc_id,
    row_number() OVER (PARTITION BY g.doc_id ORDER BY g.st) - 1 AS idx,
    substr(b.norm, g.st, g.en - g.st + 1) AS chunk
  FROM seg g JOIN base b USING (doc_id)),
h AS (
  SELECT doc_id, idx, ${Signatures.hash60Sql("chunk")} AS h,
    length(chunk) AS len
  FROM ch),
fw AS (
  SELECT doc_id, idx, len,
    row_number() OVER (PARTITION BY h ORDER BY doc_id, idx) AS r
  FROM h)
SELECT doc_id, count(*) AS n_chunks,
  CAST(sum(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CAST(sum(len) AS BIGINT) AS bytes_total,
  CAST(sum(CASE WHEN r = 1 THEN 0 ELSE len END) AS BIGINT) AS bytes_saved
FROM fw GROUP BY 1"""

  /** Winnowing k-gram size and window width: guarantees any shared
    * normalized substring of ≥ winnowW + winnowK - 1 = 11 chars shares a
    * selected fingerprint, at expected density 2/(w+1) = 0.4.
    */
  val winnowK = 8
  val winnowW = 4

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD 2003 — the
    * MOSS scheme): windowed local-minimum selection over positional k-gram
    * hashes, the INDEXABLE partial-overlap key family (see
    * [[graft.ops.TextAnalysis.winnow]]). Zero exchanges — a pure codegen'd
    * row map over the shared normalized-text stage; the oracle replays the
    * per-position key arithmetic and the window min in SQL.
    */
  def taWinnow(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.winnow(docNorm(spark, dir), "norm", winnowK, winnowW)

  /** Winnowing-selection CTE chain through `sel`(doc_id, mk) — shared by
    * the per-doc fingerprint summary and the cross-doc pair oracle.
    */
  private val winnowCtes =
    s"""${OracleGen.nrmCte},
base AS (SELECT doc_id, norm, length(norm) AS l FROM nrm WHERE length(norm) > 0),
g AS (
  SELECT doc_id, norm, l,
    least(CASE WHEN l < $winnowK THEN 1 ELSE l - ${winnowK - 1} END, 1048576) AS n
  FROM base),
pos AS (SELECT doc_id, norm, l, n, unnest(generate_series(0, n - 1)) AS i FROM g),
keys AS (
  SELECT doc_id, n, i,
    ((${Signatures.hash60Sql(
        s"CASE WHEN l < $winnowK THEN norm ELSE substr(norm, i + 1, $winnowK) END")}
      % 1099511627776) * 1048576 + i) AS key
  FROM pos),
wins AS (
  SELECT doc_id, n, i,
    min(key) OVER (PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN CURRENT ROW AND ${winnowW - 1} FOLLOWING) AS mk
  FROM keys),
sel AS (SELECT DISTINCT doc_id, mk FROM wins WHERE i <= greatest(n - $winnowW, 0))"""

  private val taWinnowSql =
    s"""WITH $winnowCtes,
agg AS (
  SELECT doc_id, count(*) AS n_fp,
    string_agg(CAST(mk AS VARCHAR), ',' ORDER BY mk) AS ks
  FROM sel GROUP BY 1)
SELECT g.doc_id, CAST(g.n AS BIGINT) AS n_grams, CAST(a.n_fp AS BIGINT) AS n_fp,
  ${Signatures.hash60Sql("a.ks")} AS fp_hash
FROM g JOIN agg a USING (doc_id)"""

  /** Document-frequency stopgram threshold: fingerprint hashes selected in
    * more than this many documents are dropped from the pair index AND
    * from the per-document counts the overlap denominator uses — the MOSS
    * stopgram practice, distributed. Winnowing's window-min selection is
    * BIASED toward globally-small-hash grams, so corpus-common grams are
    * selected in many documents at once; without the filter nearly every
    * doc pair shares a couple of fingerprints while genuinely-duplicated
    * documents drown (measured at sf0.1, n=5000: the cap-only form paid
    * 11.1M within-bucket pair rows to emit 2 pairs, recall 0.008 against
    * the 256 doc pairs at char-8-gram jaccard ≥ 0.8 — the common grams
    * both blow the bucket cap, hiding true shared fingerprints, and
    * inflate the denominator). With df ≤ 128 the same corpus pays 2.4M
    * pair rows for recall 0.953 / precision 0.942 versus that truth set
    * (df ≤ 64: 1.1M rows, recall 0.930 — the extra band buys the last
    * planted pairs). Because every surviving bucket is ≤ [[winnowDfMax]]
    * rows BY CONSTRUCTION, per-bucket pairing cost is bounded by a
    * constant and total candidate rows grow linearly in corpus size — the
    * property that makes this index survive 100 TB where the cap-only
    * form's buckets grow with n on any corpus-common vocabulary.
    */
  val winnowDfMax = 128

  /** Minimum shared rare fingerprints and minimum overlap fraction
    * (shared / smaller doc's rare-fingerprint count) for a reported pair.
    * Rare-fingerprint sets are small, so 2-3 coincident hashes pass the
    * fraction gate by chance; ≥ 4 shared is the measured precision knee
    * on this corpus (pairs at 2-3 shared: jaccard ~0.05 noise; at ≥ 4:
    * 0.98+ true near-dups).
    */
  val winnowShareMin = 4
  val winnowOverlapT = 0.6

  /** Cross-document partial-overlap pairs over winnowing fingerprints —
    * the MOSS/plagiarism pair detector and the distributed reshaping of
    * "find documents sharing any ≥ w+k-1 run": the fingerprint HASH part
    * (key >> 20, position dropped) becomes an inverted-index key after
    * the [[winnowDfMax]] stopgram filter, and pairs carry
    * shared-fingerprint counts plus a containment-style overlap fraction
    * against the smaller doc's surviving-fingerprint set. Requiring
    * ≥ [[winnowShareMin]] shared fingerprints damps coincidences.
    * Compared to dd_ngram_jaccard / dd_containment this index is
    * ~2/(w+1) the rows (only selected grams index), which is the point
    * of winnowing at 100 TB; the df filter bounds every bucket, so the
    * within-bucket pairing never goes quadratic in corpus size.
    */
  def ddWinnowPairs(spark: SparkSession, dir: String): DataFrame = {
    // ONE shuffle builds the df-filtered inverted index: group the
    // (doc_id, fph) stream by fingerprint hash, keep buckets with
    // <= winnowDfMax member docs (the stopgram filter — df IS the bucket
    // size), and derive BOTH the per-doc surviving counts and the pair
    // rows from the same memoized bucket frame. The kernel dedups
    // fingerprint hashes in-document, so the exploded frame is distinct by
    // construction: no shuffle-distinct over the positional key stream.
    val buckets = QueryCache.memo(spark, "winnow_buckets", dir) {
      docNorm(spark, dir).where(length(col("norm")) > 0)
        .select(col("doc_id").as("id"), explode(
          graft.functions.SigExprs.winnowFphs(col("norm"), winnowK, winnowW)).as("key"))
        .groupBy(col("key")).agg(collect_list(col("id")).as("ids"))
        .where(size(col("ids")) <= winnowDfMax)
    }
    val cnt = buckets.select(explode(col("ids")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val shared = Blocking.pairRowsFromBuckets(buckets, Some(winnowDfMax))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= winnowShareMin)
    shared
      .join(cnt.select(col("doc_id").as("id1"), col("n").as("n1")), "id1")
      .join(cnt.select(col("doc_id").as("id2"), col("n").as("n2")), "id2")
      .select(col("id1"), col("id2"), col("n1"), col("n2"), col("n_shared"),
        (col("n_shared").cast("double") / least(col("n1"), col("n2"))).as("overlap"))
      .where(col("overlap") >= winnowOverlapT)
  }

  private val ddWinnowPairsSql =
    s"""WITH $winnowCtes,
fpall AS (SELECT DISTINCT doc_id, mk // 1048576 AS fph FROM sel),
rare AS (SELECT fph FROM fpall GROUP BY fph HAVING count(*) <= $winnowDfMax),
fp AS (SELECT fpall.* FROM fpall JOIN rare USING (fph)),
cnt AS (SELECT doc_id, count(*) AS n FROM fp GROUP BY 1),
okk AS (SELECT fph FROM fp GROUP BY fph HAVING count(*) >= 2),
sharing AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
  FROM okk k
  JOIN fp a ON a.fph = k.fph
  JOIN fp b ON b.fph = k.fph AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT s.id1, s.id2, CAST(c1.n AS BIGINT) AS n1, CAST(c2.n AS BIGINT) AS n2,
  CAST(s.c AS BIGINT) AS n_shared,
  CAST(s.c AS DOUBLE) / least(c1.n, c2.n) AS overlap
FROM sharing s
JOIN cnt c1 ON c1.doc_id = s.id1
JOIN cnt c2 ON c2.doc_id = s.id2
WHERE s.c >= $winnowShareMin
  AND CAST(s.c AS DOUBLE) / least(c1.n, c2.n) >= $winnowOverlapT"""

  /** Token counting + basic quality stats (training-data extension).
    * Two token counts: whitespace tokens, and a BPE-ish regex count
    * (maximal letter runs | digit runs | single punctuation marks — the
    * GPT-2 pretokenizer's shape without the merge table, a stable proxy
    * for LLM token cost). Counted over lower(text) RAW, not the
    * normalized text: normalization strips punctuation, which would make
    * the punctuation branch dead and undercount real BPE cost. The
    * alternation is class-disjoint (letters / digits / whitespace /
    * other partition every position), so Java and DuckDB regex engines
    * count identically.
    */
  val bpeTokenRe = """[a-z]+|[0-9]+|[^a-z0-9\s]"""

  def taTokens(spark: SparkSession, dir: String): DataFrame = {
    val norm = Signatures.normalizeCol(col("text"))
    table(spark, dir, "documents").select(
      col("doc_id"),
      size(split(trim(col("text")), "\\s+")).as("n_tokens"),
      regexp_count(lower(col("text")), lit(bpeTokenRe)).as("n_bpe_tokens"),
      length(norm).as("n_chars_norm"),
      length(col("text")).as("n_chars_raw"))
  }

  private val taTokensSql =
    s"""SELECT doc_id,
        len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
        len(regexp_extract_all(lower(text), '$bpeTokenRe')) AS n_bpe_tokens,
        length(${Signatures.normalizeSql("text")}) AS n_chars_norm,
        length(text) AS n_chars_raw
        FROM documents"""

  /** TPC-H-style pricing-summary aggregation (generic agg/groupBy surface;
    * bench headline). Integer-exact outputs only.
    */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).cast("long").as("sum_qty"),
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("n_orders"))

  private val q1AggSql =
    """SELECT l_returnflag, l_linestatus,
       CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
       count(*) AS n_rows,
       count(DISTINCT l_orderkey) AS n_orders
       FROM lineitem GROUP BY 1, 2"""

  /** TPC-H-style fact⋈dim⋈dim rollup (the generic relational join surface;
    * SURVEY §2.9 notes Spark covers it natively — this row anchors it in
    * the gate). Join strategy mirrors the 100 TB posture: `nation` is an
    * explicit broadcast (a dimension this small never earns a shuffle);
    * orders⋈customer is left to Catalyst/AQE, which at bench scale
    * broadcasts customer and at warehouse scale would shuffle on the key.
    * Double sums cast to float (summation order is engine-dependent,
    * float rounding is not — the evHourly rule); min/max/counts exact.
    */
  def q2Join(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .join(table(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(table(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("c_custkey")).as("n_customers"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        sum(col("o_totalprice")).cast("float").as("sum_price"))

  private val q2JoinSql =
    """SELECT n_name, o_orderpriority,
       count(*) AS n_orders,
       count(DISTINCT c_custkey) AS n_customers,
       min(o_totalprice) AS min_price,
       max(o_totalprice) AS max_price,
       sum(o_totalprice)::FLOAT AS sum_price
       FROM orders
       JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
       GROUP BY 1, 2"""

  // ------------------------------------------------------------ registry

  // lazy: breaks the Queries <-> ExtQueries init cycle (see ExtQueries.all)
  lazy val all: Map[String, (SparkSession, String) => DataFrame] = ExtQueries.all ++ Map(
    "dd_exact" -> (ddExact _),
    "dd_ngram_jaccard" -> (ddNgramJaccard _),
    "dd_minhash_lsh" -> (ddMinhashLsh _),
    "dd_minhash_est" -> (ddMinhashEst _),
    "dd_skew_stats" -> (ddSkewStats _),
    "dd_incremental" -> (ddIncremental _),
    "pipeline_incremental" -> (pipelineIncremental _),
    "dd_bloom" -> (ddBloom _),
    "dd_simhash" -> (ddSimhash _),
    "dd_substring" -> (ddSubstring _),
    "snm_blocking" -> (snmBlocking _),
    "cc_clusters" -> (ccClusters _),
    "dd_keeplist" -> (ddKeeplist _),
    "dd_cluster_stats" -> (ddClusterStats _),
    "dd_containment" -> (ddContainment _),
    "dd_cdc" -> (ddCdc _),
    "ta_tokens" -> (taTokens _),
    "ta_winnow" -> (taWinnow _),
    "dd_winnow_pairs" -> (ddWinnowPairs _),
    "q1_agg" -> (q1Agg _),
    "q2_join" -> (q2Join _))

  /** Oracle SQL of every catalog row over the tables at `dir`. */
  def oracles(dir: String): Map[String, String] = ExtQueries.oracles(dir) ++ coreOracles

  private lazy val coreOracles: Map[String, String] = Map(
    "dd_exact" -> ddExactSql,
    "dd_ngram_jaccard" -> ddNgramJaccardSql,
    "dd_minhash_lsh" -> ddMinhashLshSql,
    "dd_minhash_est" -> ddMinhashEstSql,
    "dd_skew_stats" -> ddSkewStatsSql,
    "dd_incremental" -> ddIncrementalSql,
    "pipeline_incremental" -> pipelineIncrementalSql,
    "dd_bloom" -> ddBloomSql,
    "dd_simhash" -> ddSimhashSql,
    "dd_substring" -> ddSubstringSql,
    "snm_blocking" -> snmBlockingSql,
    "cc_clusters" -> ccClustersSql,
    "dd_keeplist" -> ddKeeplistSql,
    "dd_cluster_stats" -> ddClusterStatsSql,
    "dd_containment" -> ddContainmentSql,
    "dd_cdc" -> ddCdcSql,
    "ta_tokens" -> taTokensSql,
    "ta_winnow" -> taWinnowSql,
    "dd_winnow_pairs" -> ddWinnowPairsSql,
    "q1_agg" -> q1AggSql,
    "q2_join" -> q2JoinSql)
}
