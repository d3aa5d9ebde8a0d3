package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.block.Blocking
import graft.classify.Classifier
import graft.fuse.Fusion
import graft.model.Classification
import graft.ops.{Embeddings, Events, Multimodal, Sampling, TextAnalysis}
import graft.sig.Signatures

/** Extension operator catalog: similarity search, text analysis,
  * classification cascade, fusion, multi-pass SNM, event windows,
  * multimodal decode — each with an exact DuckDB oracle where SQL can
  * express it (rows-only otherwise).
  */
object ExtQueries {

  import SparkEntry.table

  /** Memoized, repartitioned embeddings base: the ~tens-of-MB parquet scans
    * into 1-4 partitions (rowgroup layout), so every vector-side stage —
    * SRP signatures, IVF cell assignment, norms — otherwise runs near
    * single-threaded on a 32-core session (profiled: ann_lsh's heaviest
    * stage at 1 task). Values are row-local, so repartitioning changes no
    * result.
    */
  /** Embedding base stage with the DEGENERATE-ROW GUARD: drops vectors
    * whose self-dot is zero (the all-zero embedding — cosine would divide
    * by zero), NaN, or infinite (a single non-finite component poisons
    * every distance downstream). Real ingest pipelines drop these at the
    * door; the oracles mirror the guard via [[OracleGen.embSrc]], so both
    * engines search the identical vector set.
    */
  private def embBase(spark: SparkSession, dir: String): DataFrame =
    QueryCache.memo(spark, "emb_base", dir) {
      val ss = graft.functions.FloatDotProduct(col("embedding"), col("embedding"))
      table(spark, dir, "embeddings")
        .where(!isnan(ss) && ss > 0 && ss =!= lit(Double.PositiveInfinity))
        .repartition(spark.sparkContext.defaultParallelism)
    }

  // --------------------------------------------------------------- ANN

  val annK = 10
  val annQueryMod = 50
  val embThreshold = 0.4

  def annTopK(spark: SparkSession, dir: String): DataFrame = {
    val vecs = embBase(spark, dir)
    annotateQueries(vecs)
  }

  private def annotateQueries(vecs: DataFrame): DataFrame =
    Embeddings.topK(vecs, vecs.where(col("vec_id") % annQueryMod === 0), annK)

  private val annTopKSql =
    s"""WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM ${OracleGen.embSrc} WHERE vec_id % $annQueryMod = 0),
v AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS nv FROM ${OracleGen.embSrc}),
s AS (
  SELECT query_id, neighbor_id,
    list_dot_product(qv, nv) /
      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(nv, nv))) AS cosine
  FROM q JOIN v ON query_id <> neighbor_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM s)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine FROM r WHERE rank <= $annK"""

  /** SQ8 scalar-quantized search: per-dim min/max over the normalized
    * corpus trains the quantizer, corpus rows become 8-bit code arrays,
    * the O(n·queries) stage scores INTEGER squared-L2 over codes, and only
    * the per-query shortlist re-reads the float column for exact-cosine
    * re-rank. Unlike the PQ rows (literal codebooks so SQL can embed
    * them), SQ's training is two order-independent aggregates — so this is
    * the trained-quantizer ANN whose full train+encode+search path the
    * DuckDB oracle reproduces from the raw table, no side tables.
    */
  val sqShortlist = 50

  def annSq(spark: SparkSession, dir: String): DataFrame = {
    val vecs = embBase(spark, dir)
    Embeddings.sqRerankTopK(vecs, vecs.where(col("vec_id") % annQueryMod === 0),
      annK, sqShortlist)
  }

  private val annSqSql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM ${OracleGen.embSrc}),
n AS (SELECT vec_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv FROM e),
el AS (
  SELECT vec_id, unnest(nv) AS x, unnest(generate_series(1, len(nv))) AS ord
  FROM n),
dims AS (SELECT ord, min(x) AS mn, max(x) AS mx FROM el GROUP BY 1),
codes AS (
  SELECT vec_id, ord,
    CASE WHEN mx > mn THEN least(255, CAST(floor((x - mn) * 255.0 / (mx - mn)) AS BIGINT))
         ELSE 0 END AS c
  FROM el JOIN dims USING (ord)),
d AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
    sum((q.c - v.c) * (q.c - v.c)) AS dist
  FROM codes q JOIN codes v ON v.ord = q.ord AND v.vec_id <> q.vec_id
  WHERE q.vec_id % $annQueryMod = 0
  GROUP BY 1, 2),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rn
    FROM d) WHERE rn <= $sqShortlist),
$pqRerankTailSql"""

  /** PQ-ADC shortlist + exact re-rank: the product-quantization search
    * shape (compose with IVF cells for full IVF-PQ). Catalog config uses
    * the deterministic data-independent codebook so the oracle can embed
    * it as literals (same policy as ann_ivf); the TRAINED per-subspace
    * k-means codebook is OpsSpec-gated on recall, like the trained IVF.
    */
  val pqM = 8
  val pqCodeCount = 16
  val pqSeed = 7L
  val pqShortlist = 50

  private lazy val pqCb = Embeddings.pqCodebooks(pqM, pqCodeCount, 64 / pqM, pqSeed)

  def annPq(spark: SparkSession, dir: String): DataFrame = {
    val vecs = embBase(spark, dir)
    Embeddings.pqRerankTopK(vecs, vecs.where(col("vec_id") % annQueryMod === 0),
      annK, pqCb, pqShortlist)
  }

  /** Exact-cosine re-rank tail over CTEs `short(query_id, neighbor_id)`
    * and `e(vec_id, v)` — shared by ann_pq and ann_ivfpq.
    */
  private def pqRerankTailSql: String =
    s"""rr AS (
  SELECT s.query_id, s.neighbor_id,
    list_dot_product(qe.v, ne.v) /
      (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(ne.v, ne.v))) AS cosine
  FROM short s
  JOIN e qe ON qe.vec_id = s.query_id
  JOIN e ne ON ne.vec_id = s.neighbor_id),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM rr)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine FROM r WHERE rank <= $annK"""

  private lazy val annPqSql =
    s"""WITH ${OracleGen.pqCtes(pqCb, annQueryMod, pqShortlist)},
$pqRerankTailSql"""

  /** Composed IVF-PQ: coarse cells prune the corpus, ADC over the probed
    * cells' codes shortlists, exact cosine re-ranks — the full
    * 10^12-scale search layout in one oracle-mirrored query.
    */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val vecs = embBase(spark, dir)
    Embeddings.ivfPqTopK(vecs, vecs.where(col("vec_id") % annQueryMod === 0),
      annK, pqCb, shortlist = pqShortlist)
  }

  private lazy val annIvfPqSql =
    s"""WITH ${OracleGen.ivfPqCtes(pqCb, 16, 64, 42L, annQueryMod, 4, pqShortlist)},
$pqRerankTailSql"""

  def embPairs(spark: SparkSession, dir: String): DataFrame =
    Embeddings.thresholdPairs(embBase(spark, dir), embThreshold)

  private val embPairsSql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM ${OracleGen.embSrc})
SELECT a.vec_id AS id1, b.vec_id AS id2,
  list_dot_product(a.v, b.v) /
    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) /
    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= $embThreshold"""

  /** SRP-LSH ANN, cataloged as the MULTI-PROBE top-k (Lv et al. VLDB'07
    * shape): 6 bands × 4 bits index the corpus once per band; each query
    * additionally probes the 2 buckets reached by flipping its
    * least-confident sign bit per band. This geometry actually PRUNES —
    * candidate reads are ~(1+probes)·n/2^4 per band instead of the
    * near-all-pairs the old 8×2-bit threshold-pairs row scanned. (Measured
    * on this corpus at t=0.4: EVERY band geometry that clears 0.9
    * pair-recall examines ≥80% of all pairs — the planted pairs at
    * cos 0.4–0.5 sit against a ~0-cos bulk, so the s-curve has nowhere to
    * cut; moderate-threshold PAIR generation belongs to the cell-bucketed
    * path (`dd_semantic`), and LSH earns its keep on per-query probing,
    * which is what this row now exercises.) Fully oracle-mirrored
    * including the |projection| flip ranking; recall gate: OpsSpec
    * "multi-probe SRP-LSH" (0.98 near-dup recall@1).
    * The threshold-pairs operator (`Embeddings.lshThresholdPairs`) remains
    * available and recall-gated for the high-threshold regimes where band
    * LSH does prune.
    */
  val lshBits = 24
  val lshBands = 6
  val lshProbes = 2

  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val vecs = embBase(spark, dir)
    Embeddings.lshTopKMultiProbe(vecs, vecs.where(col("vec_id") % annQueryMod === 0),
      annK, 64, lshBits, lshBands, lshProbes, 42L, bucketCap = 2000)
  }

  private val annLshSql =
    s"""WITH ${OracleGen.srpMultiProbeCtes(dim = 64, bits = lshBits, bands = lshBands,
      probes = lshProbes, seed = 42L, cap = 2000, queryMod = annQueryMod, k = annK)}"""

  /** IVF top-k ANN: the cell-probed scale path (vs ann_topk's exact
    * baseline) — deterministic coarse centroids, nprobe=4 of 16 cells,
    * exact cosine verify within probed cells. Fully oracle-mirrored
    * (centroid literals + identical fold arithmetic).
    */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val vecs = embBase(spark, dir)
    Embeddings.ivfTopK(vecs, vecs.where(col("vec_id") % annQueryMod === 0), annK)
  }

  private val annIvfSql = {
    val cos = "list_dot_product(p.qv, n.nv) / " +
      "(sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(n.nv, n.nv)))"
    s"""WITH ${OracleGen.ivfCtes(numCells = 16, dim = 64, seed = 42L)},
probes AS (
  SELECT vec_id AS query_id, v AS qv, c AS cell FROM rc
  WHERE crank <= 4 AND vec_id % $annQueryMod = 0),
s AS (
  SELECT p.query_id, n.neighbor_id, $cos AS cosine
  FROM probes p JOIN cells n ON n.cell = p.cell AND n.neighbor_id <> p.query_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM s)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine FROM r WHERE rank <= $annK"""
  }

  // ------------------------------------------- trained quantizer catalog

  /** TRAINED-quantizer catalog rows — the PRIMARY `ann_ivf` / `ann_pq`
    * registry names (the data-independent codebook forms above stay
    * cataloged as `ann_ivf_fixed` / `ann_pq_fixed` anchors): the row a
    * user copies is the one production would run.
    * The spherical-kmeans IVF centroids / per-subspace PQ codebooks are
    * trained on the corpus (deterministic: lowest-xxhash64 sample, fixed
    * init and tie rules — retraining on the same table reproduces the same
    * arrays bit-for-bit) and PERSISTED as parquet side tables that the
    * DuckDB oracle reads back, so the oracle re-executes the full search —
    * cell assignment / code assignment / ADC / exact re-rank — from the
    * same trained parameters with independent SQL (the mm_* side-table
    * pattern). Training quality itself is gated separately by the OpsSpec
    * recall/lift tests; THESE rows gate that the distributed search over
    * trained parameters is exact. Tables are rewritten on every (re)train.
    *
    * The side-table paths are keyed by a digest of the input dir's
    * absolute path, and so are the two oracle strings that read them
    * ([[oracles]]`(dir)`): training on another corpus (a test suite, a
    * second Verify) writes other tables, so a dump and its oracle stay
    * consistent however runs on different corpora interleave.
    */
  private def dirDigest(dir: String): String =
    java.lang.Long.toHexString(Signatures.hash60(
      java.nio.file.Paths.get(dir).toAbsolutePath.normalize.toString))
  def annIvfCentsPath(dir: String): String = s"/tmp/graft_ann_ivf_cents_v1_${dirDigest(dir)}"
  def annPqCbPath(dir: String): String = s"/tmp/graft_ann_pq_cb_v1_${dirDigest(dir)}"

  private val trainedCache = scala.collection.mutable.HashMap.empty[(String, String), AnyRef]

  private def trainedIvf(spark: SparkSession, dir: String): Array[Array[Double]] =
    trainedCache.synchronized {
      trainedCache.getOrElseUpdate(("ivf", dir), {
        val cents = Embeddings.trainIvfCentroids(embBase(spark, dir), 16)
        import spark.implicits._
        // c is 1-based to match the engine's rank/oracle cell numbering
        cents.zipWithIndex
          .map { case (cent, i) => (i + 1, cent.toSeq, cent.map(x => x * x).sum / 2) }
          .toSeq.toDF("c", "cent", "halfnorm")
          .coalesce(1).write.mode("overwrite").parquet(annIvfCentsPath(dir))
        cents
      }).asInstanceOf[Array[Array[Double]]]
    }

  private def trainedPq(spark: SparkSession, dir: String): Array[Array[Array[Double]]] =
    trainedCache.synchronized {
      trainedCache.getOrElseUpdate(("pq", dir), {
        val cb = Embeddings.trainPqCodebooks(embBase(spark, dir), pqM, pqCodeCount)
        import spark.implicits._
        val rows = for {
          j <- cb.indices; c <- cb(j).indices
        } yield (j, c, cb(j)(c).toSeq)
        rows.toDF("j", "c", "cent")
          .coalesce(1).write.mode("overwrite").parquet(annPqCbPath(dir))
        cb
      }).asInstanceOf[Array[Array[Array[Double]]]]
    }

  def annIvfTrained(spark: SparkSession, dir: String): DataFrame = {
    val vecs = embBase(spark, dir)
    Embeddings.ivfTopK(vecs, vecs.where(col("vec_id") % annQueryMod === 0), annK,
      centroids = Some(trainedIvf(spark, dir)))
  }

  private def annIvfTrainedSql(dir: String): String = {
    val cos = "list_dot_product(p.qv, n.nv) / " +
      "(sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(n.nv, n.nv)))"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM ${OracleGen.embSrc}),
ct AS (SELECT c, cent, halfnorm FROM read_parquet('${annIvfCentsPath(dir)}/*.parquet')),
scored AS (
  SELECT e.vec_id, e.v, ct.c, list_dot_product(e.v, ct.cent) - ct.halfnorm AS s
  FROM e CROSS JOIN ct),
rc AS (
  SELECT vec_id, v, c,
    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c) AS crank
  FROM scored),
cells AS (SELECT vec_id AS neighbor_id, v AS nv, c AS cell FROM rc WHERE crank = 1),
probes AS (
  SELECT vec_id AS query_id, v AS qv, c AS cell FROM rc
  WHERE crank <= 4 AND vec_id % $annQueryMod = 0),
s AS (
  SELECT p.query_id, n.neighbor_id, $cos AS cosine
  FROM probes p JOIN cells n ON n.cell = p.cell AND n.neighbor_id <> p.query_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM s)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine FROM r WHERE rank <= $annK"""
  }

  def annPqTrained(spark: SparkSession, dir: String): DataFrame = {
    val vecs = embBase(spark, dir)
    Embeddings.pqRerankTopK(vecs, vecs.where(col("vec_id") % annQueryMod === 0),
      annK, trainedPq(spark, dir), pqShortlist)
  }

  private def annPqTrainedSql(dir: String): String = {
    val subDim = 64 / pqM
    val diff = s"list_transform(generate_series(1, $subDim), i -> " +
      s"n.nv[b.j*$subDim + i] - b.cent[i])"
    val ones = s"list_transform(generate_series(1, $pqM), x -> 1.0)"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM ${OracleGen.embSrc}),
cb AS (SELECT j, c, cent FROM read_parquet('${annPqCbPath(dir)}/*.parquet')),
nrm AS (
  SELECT vec_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
  FROM e),
dists AS (
  SELECT n.vec_id, b.j, b.c, list_dot_product($diff, $diff) AS d2
  FROM nrm n CROSS JOIN cb b),
codesl AS (
  SELECT vec_id, j, c FROM (
    SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, c) AS rn
    FROM dists) WHERE rn = 1),
adc AS (
  SELECT l.vec_id AS query_id, cd.vec_id AS neighbor_id,
    list_dot_product(list(l.d2 ORDER BY l.j), $ones) AS adc
  FROM codesl cd
  JOIN dists l ON l.j = cd.j AND l.c = cd.c
  WHERE l.vec_id % $annQueryMod = 0 AND cd.vec_id <> l.vec_id
  GROUP BY 1, 2),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS sr
    FROM adc)
  WHERE sr <= $pqShortlist),
$pqRerankTailSql"""
  }

  /** SemDeDup-shaped semantic dedup: exact-cosine near-dup pairs within
    * shared quantizer cells (nprobe=2 recovers boundary pairs). Same
    * threshold as emb_pairs, so the diff between the two catalogs IS the
    * recall the clustering trades for boundedness.
    */
  /** Memoized ε-cosine pair stage — shared by dd_semantic,
    * dd_semantic_keep and emb_dbscan (three catalog consumers of the same
    * cell-bucketed pair computation; without the memo each re-runs it).
    */
  private def semPairs(spark: SparkSession, dir: String): DataFrame =
    QueryCache.memo(spark, "sem_pairs", dir) {
      Embeddings.semanticPairs(embBase(spark, dir), embThreshold)
    }

  def ddSemantic(spark: SparkSession, dir: String): DataFrame =
    semPairs(spark, dir)

  private val ddSemanticSql = {
    val cos = "list_dot_product(a.v, b.v) / " +
      "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"
    s"""WITH ${OracleGen.ivfCtes(numCells = 16, dim = 64, seed = 42L)},
asg AS (SELECT vec_id, v, c AS cell FROM rc WHERE crank <= 2),
p AS (
  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2, $cos AS cosine
  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id)
SELECT id1, id2, cosine FROM p WHERE cosine >= $embThreshold"""
  }

  /** DBSCAN minPts (a core point needs ≥ minPts-1 ε-neighbors). */
  val dbscanMinPts = 3

  /** Density-based embedding clustering ([[Embeddings.dbscan]]): the
    * density semantics SemDeDup's plain ε-closure lacks — only CORE
    * points (≥ minPts-1 cosine-ε neighbors) propagate cluster labels,
    * borders attach to their min core neighbor's cluster, the rest is
    * noise. Same cell-bucketed pair machinery as dd_semantic; the oracle
    * replays degree counting, the core cut, a recursive-CTE closure over
    * core-core edges, and the border/noise case split.
    */
  def embDbscan(spark: SparkSession, dir: String): DataFrame =
    Embeddings.dbscanFromEdges(embBase(spark, dir),
      semPairs(spark, dir).select(col("id1"), col("id2")), dbscanMinPts)

  private val embDbscanSql = {
    val cos = "list_dot_product(a.v, b.v) / " +
      "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"
    s"""WITH RECURSIVE ${OracleGen.ivfCtes(numCells = 16, dim = 64, seed = 42L)},
asg AS (SELECT vec_id, v, c AS cell FROM rc WHERE crank <= 2),
pr AS (
  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE $cos >= $embThreshold),
und AS (SELECT id1 AS a, id2 AS b FROM pr UNION ALL SELECT id2, id1 FROM pr),
dg AS (SELECT a AS vec_id, count(*) AS degree FROM und GROUP BY 1),
core AS (SELECT vec_id FROM dg WHERE degree >= ${dbscanMinPts - 1}),
ce AS (
  SELECT p.id1, p.id2 FROM pr p
  JOIN core c1 ON c1.vec_id = p.id1
  JOIN core c2 ON c2.vec_id = p.id2),
ed AS (SELECT id1 AS a, id2 AS b FROM ce UNION ALL SELECT id2, id1 FROM ce),
reach(n, r) AS (
  SELECT vec_id, vec_id FROM core
  UNION
  SELECT reach.n, ed.b FROM reach JOIN ed ON ed.a = reach.r),
cc AS (SELECT n AS vec_id, min(r) AS cluster_id FROM reach GROUP BY 1),
bm AS (
  SELECT u.a AS vec_id, min(c.cluster_id) AS cluster_id
  FROM und u JOIN cc c ON c.vec_id = u.b
  WHERE u.a NOT IN (SELECT vec_id FROM core)
  GROUP BY 1)
SELECT e.vec_id,
  CAST(coalesce(c.cluster_id, b.cluster_id, -1) AS BIGINT) AS cluster_id,
  CASE WHEN c.cluster_id IS NOT NULL THEN 'core'
       WHEN b.cluster_id IS NOT NULL THEN 'border'
       ELSE 'noise' END AS role,
  CAST(coalesce(d.degree, 0) AS BIGINT) AS degree
FROM ${OracleGen.embSrc} e
LEFT JOIN cc c USING (vec_id)
LEFT JOIN bm b USING (vec_id)
LEFT JOIN dg d USING (vec_id)"""
  }

  /** SemDeDup completed end-to-end (Abbas et al. 2023): ε-cosine pairs
    * within quantizer cells ([[ddSemantic]]) → connected components over
    * the pair graph (singletons keep their own id) → per-component
    * survivor election by the paper's keep policy — retain the example the
    * quantizer represents WORST (argmin of the IVF assignment score
    * max_c(v·c − ‖c‖²/2), the "most marginal / most diverse" member; ties
    * to the lowest vec_id). The score is a native codegen expression with
    * the oracle's exact fold arithmetic (`list_max(ss)` over the same
    * centroid literals), the election an argmin AGGREGATE (never a
    * per-cluster window), so the full SemDeDup chain — quantize, pair,
    * cluster, elect — is one hash gate.
    */
  def ddSemanticKeep(spark: SparkSession, dir: String): DataFrame = {
    val edges = ddSemantic(spark, dir).select(col("id1"), col("id2"))
    val assign = graft.cluster.ConnectedComponents
      .assignAll(embBase(spark, dir), "vec_id", edges)
      .select(col("id").as("vec_id"), col("cluster_id"))
    val cents = Embeddings.ivfCentroids(16, 64, 42L)
    val scores = embBase(spark, dir).select(col("vec_id"),
      graft.functions.IvfBestScore(col("embedding"), cents).as("q_score"))
    graft.ops.Keeplist.elect(assign, scores, "vec_id", "q_score", argmin = true)
  }

  private val ddSemanticKeepSql = {
    val cos = "list_dot_product(a.v, b.v) / " +
      "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"
    s"""WITH RECURSIVE ${OracleGen.ivfCtes(numCells = 16, dim = 64, seed = 42L)},
asg AS (SELECT vec_id, v, c AS cell FROM rc WHERE crank <= 2),
pr AS (
  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE $cos >= $embThreshold),
ed AS (SELECT id1 AS a, id2 AS b FROM pr UNION ALL SELECT id2, id1 FROM pr),
reach(n, r) AS (
  SELECT vec_id, vec_id FROM e
  UNION
  SELECT reach.n, ed.b FROM reach JOIN ed ON ed.a = reach.r),
cc AS (SELECT n AS vec_id, min(r) AS cluster_id FROM reach GROUP BY 1),
q AS (SELECT vec_id, list_max(ss) AS q_score FROM sc),
scj AS (SELECT c.vec_id, c.cluster_id, q.q_score FROM cc c JOIN q USING (vec_id)),
rp AS (
  SELECT cluster_id, vec_id AS rep_id FROM (
    SELECT cluster_id, vec_id,
      row_number() OVER (PARTITION BY cluster_id
                         ORDER BY q_score, vec_id) AS rn
    FROM scj) WHERE rn = 1),
cs AS (SELECT cluster_id, count(*) AS cluster_size FROM scj GROUP BY 1)
SELECT s.vec_id, s.cluster_id, c.cluster_size, r.rep_id,
  s.vec_id = r.rep_id AS keep, s.q_score
FROM scj s JOIN rp r USING (cluster_id) JOIN cs c USING (cluster_id)"""
  }

  // ------------------------------------------------------- text analysis

  def taLangid(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.langId(table(spark, dir, "documents"), "text")

  private val taLangidSql = {
    val ratioCols = TextAnalysis.markers.map { case (l, ms) =>
      val set = ms.map(m => s"'$m'").mkString(", ")
      s"len(list_filter(toks, x -> x IN ($set)))::DOUBLE / greatest(n_tokens, 1) AS r_$l"
    }.mkString(",\n    ")
    val rs = TextAnalysis.markers.map { case (l, _) => s"r_$l" }
    val best = s"greatest(${rs.mkString(", ")})"
    val caseArms = TextAnalysis.markers.map { case (l, _) =>
      s"WHEN r_$l = $best THEN '$l'"
    }.mkString(" ")
    s"""WITH t AS (
  SELECT doc_id, string_split(${Signatures.normalizeSql("text")}, ' ') AS toks
  FROM documents),
b AS (SELECT doc_id, toks, len(toks) AS n_tokens FROM t),
r AS (
  SELECT doc_id, n_tokens,
    $ratioCols
  FROM b)
SELECT doc_id, n_tokens, ${rs.mkString(", ")},
  CASE WHEN $best >= 0.03 THEN (CASE $caseArms END) ELSE 'und' END AS lang_pred
FROM r"""
  }

  def taRepetition(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetition(table(spark, dir, "documents"), "text")

  private val taRepetitionSql = {
    // non-distinct mirror of the Spark-side token/2-gram multiplicity counts
    val top = (arr: String, n: String) =>
      s"coalesce(list_max(list_transform(list_distinct($arr), " +
        s"g -> len(list_filter($arr, x -> x = g))))::DOUBLE / greatest($n, 1), 0.0)"
    s"""WITH n0 AS (
  SELECT doc_id, ${Signatures.normalizeSql("text")} AS norm FROM documents),
t AS (
  SELECT doc_id,
    CASE WHEN length(norm) = 0 THEN [] ELSE string_split(norm, ' ') END AS toks
  FROM n0),
g AS (
  SELECT doc_id, toks, len(toks) AS n_tokens,
    CASE WHEN len(toks) >= 2
      THEN list_transform(generate_series(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i + 1])
      ELSE [] END AS grams
  FROM t),
m AS (
  SELECT doc_id, n_tokens, len(grams) AS n_2grams,
    (n_tokens - len(list_distinct(toks)))::DOUBLE / greatest(n_tokens, 1) AS dup_tok_frac,
    ${top("toks", "n_tokens")} AS top_tok_frac,
    (len(grams) - len(list_distinct(grams)))::DOUBLE / greatest(len(grams), 1) AS dup_2gram_frac,
    ${top("grams", "len(grams)")} AS top_2gram_frac
  FROM g)
SELECT doc_id, n_tokens, n_2grams, dup_tok_frac, top_tok_frac,
  dup_2gram_frac, top_2gram_frac,
  (top_tok_frac <= 0.2 AND top_2gram_frac <= 0.1) AS repetition_ok
FROM m"""
  }

  def taQuality(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.quality(table(spark, dir, "documents"), "text")

  private val taQualitySql = {
    val stop = TextAnalysis.markers.flatMap(_._2).map(m => s"'$m'").mkString(", ")
    s"""WITH base AS (
  SELECT doc_id, text, string_split(${Signatures.normalizeSql("text")}, ' ') AS toks
  FROM documents),
m AS (
  SELECT doc_id,
    length(text) AS n_chars,
    len(toks) AS n_tokens,
    length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS n_punct,
    len(list_filter(toks, x -> x IN ($stop))) AS n_stop,
    len(list_distinct(toks)) AS n_distinct
  FROM base)
SELECT doc_id, n_chars, n_tokens, n_punct, n_stop, n_distinct,
  n_punct::DOUBLE / greatest(n_chars, 1) AS punct_ratio,
  n_stop::DOUBLE / greatest(n_tokens, 1) AS stop_ratio,
  n_distinct::DOUBLE / greatest(n_tokens, 1) AS distinct_ratio,
  (n_chars - n_tokens + 1)::DOUBLE / greatest(n_tokens, 1) AS mean_token_len,
  (n_tokens >= 5 AND n_punct::DOUBLE / greatest(n_chars, 1) < 0.3
    AND n_distinct::DOUBLE / greatest(n_tokens, 1) > 0.2) AS quality_ok
FROM m"""
  }

  def taFingerprint(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprint(table(spark, dir, "documents"), "text")

  private val taFingerprintSql =
    s"""WITH ${OracleGen.nrmCte},
${OracleGen.charShingleCtes(8)},
mn AS (SELECT doc_id, min(${Signatures.hash60Sql("sh")}) AS fp_minshingle FROM sh GROUP BY 1)
SELECT n.doc_id, ${Signatures.hash60Sql("n.norm")} AS fp_exact, mn.fp_minshingle
FROM nrm n JOIN mn ON mn.doc_id = n.doc_id"""

  // --------------------------------------------------- classification

  /** Rule cascade over inverted-index candidates: exact-text rule,
    * substring POSSIBLE rule promoted by policy, Jaccard threshold rule —
    * exercising positiveRule/possibleRule/thresholdRule/cascade/
    * handlePossibleDuplicates with full lineage.
    */
  def classifyRules(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
      .select(col("doc_id"), col("text"), Signatures.normalizeCol(col("text")).as("norm"))
    // candidates + exact Jaccard come from the shared persisted edge stage
    val scoredAll = Queries.ngramScoredAll(spark, dir)
    val f1 = docs.select(col("doc_id").as("id1"), col("text").as("t1"), col("norm").as("n1"))
    val f2 = docs.select(col("doc_id").as("id2"), col("text").as("t2"), col("norm").as("n2"))
    val sims = scoredAll.join(f1, Seq("id1")).join(f2, Seq("id2")).select(
      col("id1"), col("id2"),
      (col("t1") === col("t2")).as("texteq"),
      ((length(col("n1")) <= length(col("n2")) && expr("instr(n2, n1) > 0") &&
        length(col("n1")) >= 8) ||
        (length(col("n2")) < length(col("n1")) && expr("instr(n1, n2) > 0") &&
          length(col("n2")) >= 8)).as("contains"),
      col("jaccard").as("jac"))
    val cascade = Classifier.cascade(
      Classifier.positiveRule("exact-text", col("texteq").cast("double")),
      Classifier.possibleRule("substring", when(col("contains"), 0.95).otherwise(0.0)),
      Classifier.thresholdRule("jaccard-threshold", col("jac"), Queries.ngramJaccardT))
    Classifier.handlePossibleDuplicates(Classifier.classify(sims, cascade), "promote")
      .select(col("id1"), col("id2"), col("classification"),
        col("confidence"), col("explanation"))
  }

  private val classifyRulesSql = {
    val t = Queries.ngramJaccardT
    s"""WITH ${OracleGen.nrmCte},
${OracleGen.wordNgramCtes(Queries.ngramN)},
${OracleGen.invertedIndexCandsCte},
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT c.id1, c.id2, count(*) AS c
  FROM cands c
  JOIN sh s1 ON s1.doc_id = c.id1
  JOIN sh s2 ON s2.doc_id = c.id2 AND s2.sh = s1.sh
  GROUP BY 1, 2),
sims AS (
  SELECT c.id1, c.id2,
    (d1.text = d2.text) AS texteq,
    ((length(n1.norm) <= length(n2.norm) AND length(n1.norm) >= 8 AND strpos(n2.norm, n1.norm) > 0)
      OR (length(n2.norm) < length(n1.norm) AND length(n2.norm) >= 8 AND strpos(n1.norm, n2.norm) > 0))
      AS contains,
    CAST(coalesce(i.c, 0) AS DOUBLE) / (c1.n + c2.n - coalesce(i.c, 0)) AS jac
  FROM cands c
  JOIN documents d1 ON d1.doc_id = c.id1
  JOIN documents d2 ON d2.doc_id = c.id2
  JOIN nrm n1 ON n1.doc_id = c.id1
  JOIN nrm n2 ON n2.doc_id = c.id2
  JOIN cnt c1 ON c1.doc_id = c.id1
  JOIN cnt c2 ON c2.doc_id = c.id2
  LEFT JOIN inter i ON i.id1 = c.id1 AND i.id2 = c.id2)
SELECT id1, id2,
  CASE WHEN texteq THEN 'DUPLICATE'
       WHEN contains THEN 'DUPLICATE'
       WHEN jac >= $t THEN 'DUPLICATE'
       ELSE 'NON_DUPLICATE' END AS classification,
  CASE WHEN texteq THEN 1.0
       WHEN contains THEN 0.95
       WHEN jac >= $t THEN (jac - $t) / ${1 - t}
       ELSE ($t - jac) / $t END AS confidence,
  CASE WHEN texteq THEN 'exact-text'
       WHEN contains THEN 'substring'
       ELSE 'jaccard-threshold' END AS explanation
FROM sims"""
  }

  // ------------------------------------------------------------ fusion

  /** Per-cluster conflict-resolution fusion over the cc_clusters partition,
    * using the real Merge DSL in mapGroups (longest-then-min text,
    * mostFrequent-then-min lang), plus count/sum aggregates.
    */
  def fuseCanonical(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import Fusion._
    final case class DocRow(doc_id: Long, text: String, lang: String, n_chars: Long)

    val assign = Queries.ccAssign(spark, dir).toDF("doc_id", "cluster_id")
    val docs = table(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
    val joined = docs.join(assign, Seq("doc_id"))
      .select(col("cluster_id"), col("doc_id"), col("text"), col("lang"), col("n_chars"))

    val merge = Merge[DocRow](Seq(
      FieldMerge[DocRow, String]("text", _.text, (r, v) => r.copy(text = v),
        andThen(longest, min[String])),
      FieldMerge[DocRow, String]("lang", _.lang, (r, v) => r.copy(lang = v),
        andThen(mostFrequent[String], min[String]))))

    joined.as[(Long, Long, String, String, Long)]
      .groupByKey(_._1)
      .mapGroups { (cid, it) =>
        val mem = it.toArray.sortBy(_._2)
        val annotated = mem.map(m => Annotated(DocRow(m._2, m._3, m._4, m._5), "src", 1.0, 0L)).toSeq
        val (rec, _) = merge.fuse(annotated)
        (cid, mem.length.toLong, rec.text, rec.lang, mem.map(_._5).sum)
      }
      .toDF("cluster_id", "n_members", "text", "lang", "sum_chars")
  }

  private val fuseCanonicalSql =
    s"""WITH RECURSIVE ${OracleGen.nrmCte},
${OracleGen.wordNgramCtes(Queries.ngramN)},
${OracleGen.invertedIndexCandsCte},
${OracleGen.jaccardPairsCte(Queries.ngramJaccardT)},
${OracleGen.ccCte},
j AS (
  SELECT c.cluster_id, d.doc_id, d.text, d.lang, d.n_chars
  FROM cc c JOIN documents d ON d.doc_id = c.doc_id),
txt AS (
  SELECT cluster_id, text FROM (
    SELECT cluster_id, text,
      row_number() OVER (PARTITION BY cluster_id ORDER BY length(text) DESC, text) AS rn
    FROM j WHERE text IS NOT NULL AND text <> '') WHERE rn = 1),
lng AS (
  SELECT cluster_id, lang FROM (
    SELECT cluster_id, lang,
      row_number() OVER (PARTITION BY cluster_id ORDER BY cnt DESC, lang) AS rn
    FROM (SELECT cluster_id, lang, count(*) AS cnt FROM j
          WHERE lang IS NOT NULL AND lang <> '' GROUP BY 1, 2)) WHERE rn = 1),
hd AS (
  SELECT cluster_id, text AS htext, lang AS hlang FROM (
    SELECT cluster_id, text, lang,
      row_number() OVER (PARTITION BY cluster_id ORDER BY doc_id) AS rn
    FROM j) WHERE rn = 1),
agg AS (SELECT cluster_id, count(*) AS n_members,
        CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM j GROUP BY 1)
SELECT a.cluster_id, a.n_members,
  coalesce(t.text, h.htext) AS text, coalesce(l.lang, h.hlang) AS lang,
  a.sum_chars
FROM agg a JOIN hd h USING (cluster_id)
LEFT JOIN txt t USING (cluster_id) LEFT JOIN lng l USING (cluster_id)"""

  // ------------------------------------------- similarity measure surface

  /** The similarity library over SNM candidate name pairs: normalized
    * Levenshtein, Jaro-Winkler (canonical 0.7 boost — DuckDB-parity),
    * equality, scaled numeric difference.
    */
  def simMeasures(spark: SparkSession, dir: String): DataFrame = {
    val cust = table(spark, dir, "customer")
    val pairs = Blocking.snmPairsScalable(cust, "c_custkey", col("c_name"), Queries.snmWindow)
    val c1 = cust.select(col("c_custkey").as("id1"), col("c_name").as("name1"),
      col("c_acctbal").as("bal1"))
    val c2 = cust.select(col("c_custkey").as("id2"), col("c_name").as("name2"),
      col("c_acctbal").as("bal2"))
    val jw = graft.similarity.SimUdfs.jaroWinklerCol(0.7)
    pairs.join(c1, Seq("id1")).join(c2, Seq("id2")).select(
      col("id1"), col("id2"),
      graft.similarity.Sims.levenshteinSim(col("name1"), col("name2")).as("lev_sim"),
      jw(col("name1"), col("name2")).as("jw_sim"),
      graft.similarity.Sims.equality(col("name1"), col("name2")).as("name_eq"),
      graft.similarity.Sims.scaledDifference(1000.0)(col("bal1"), col("bal2")).as("bal_sim"))
  }

  private val simMeasuresSql =
    s"""WITH b AS (
  SELECT c_custkey AS id, c_name AS key FROM customer WHERE c_name IS NOT NULL),
l AS (
  SELECT id,
    lag(id, 1) OVER (ORDER BY key, id) AS p1,
    lag(id, 2) OVER (ORDER BY key, id) AS p2
  FROM b),
pairs AS (
  SELECT DISTINCT least(id, p) AS id1, greatest(id, p) AS id2
  FROM (SELECT id, p1 AS p FROM l UNION ALL SELECT id, p2 FROM l)
  WHERE p IS NOT NULL)
SELECT p.id1, p.id2,
  CASE WHEN greatest(length(a.c_name), length(b.c_name)) = 0 THEN 1.0
       ELSE 1.0 - levenshtein(a.c_name, b.c_name)::DOUBLE /
            greatest(length(a.c_name), length(b.c_name)) END AS lev_sim,
  jaro_winkler_similarity(a.c_name, b.c_name) AS jw_sim,
  CASE WHEN a.c_name = b.c_name THEN 1.0 ELSE 0.0 END AS name_eq,
  greatest(0.0, 1.0 - abs(a.c_acctbal - b.c_acctbal) / 1000.0) AS bal_sim
FROM pairs p
JOIN customer a ON a.c_custkey = p.id1
JOIN customer b ON b.c_custkey = p.id2"""

  /** Temporal scaledDifference surface (ref `CommonSimilarityMeasures
    * .java:369-373` DAYS form): same-customer URGENT order pairs scored by
    * order-date proximity at maxDays=30 — the date analog of
    * `sim_measures`' numeric bal_sim. The co-grouped self-join shuffles on
    * o_custkey once; per-key fan-out is bounded by order count per
    * customer.
    */
  def simTemporal(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders").where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
    val a = o.select(col("o_custkey"), col("o_orderkey").as("id1"), col("o_orderdate").as("d1"))
    val b = o.select(col("o_custkey"), col("o_orderkey").as("id2"), col("o_orderdate").as("d2"))
    a.join(b, Seq("o_custkey")).where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        graft.similarity.Sims.scaledDifferenceDays(30.0)(col("d1"), col("d2")).as("date_sim"))
  }

  private val simTemporalSql =
    """WITH o AS (
  SELECT o_custkey, o_orderkey, o_orderdate FROM orders
  WHERE o_orderpriority = '1-URGENT')
SELECT a.o_orderkey AS id1, b.o_orderkey AS id2,
  greatest(0.0, 1.0 - abs(date_diff('day', a.o_orderdate::DATE, b.o_orderdate::DATE))::DOUBLE / 30.0)
    AS date_sim
FROM o a JOIN o b ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey"""

  // ------------------------------------------ collection similarity surface

  /** Collection-valued similarity measures over candidate token bags — the
    * reference's multi-name-classifier composition surface
    * (`PersonClassifierWithMultipleNames.java:66-136`): Monge-Elkan with an
    * inner normalized Levenshtein, histogram-cosine over token bags, and
    * their max-of-strategies combination. Token arrays are the first 8
    * normalized words; pairs come from the shared inverted-index stage.
    * (The stable-matching strategy is covered by reference-fixture unit
    * tests — Gale-Shapley has no SQL analog for the oracle.)
    */
  def simCollection(spark: SparkSession, dir: String): DataFrame = {
    val toks = table(spark, dir, "documents")
      .select(col("doc_id"),
        slice(Signatures.wordsCol(Signatures.normalizeCol(col("text"))), 1, 8).as("toks"))
    val pairs = Queries.ngramScoredAll(spark, dir).select(col("id1"), col("id2"))
    val t1 = toks.select(col("doc_id").as("id1"), col("toks").as("t1"))
    val t2 = toks.select(col("doc_id").as("id2"), col("toks").as("t2"))
    val me = graft.similarity.SimUdfs.mongeElkanLevCol()(col("t1"), col("t2"))
    val cb = graft.similarity.SimUdfs.cosineBagCol(col("t1"), col("t2"))
    pairs.join(t1, Seq("id1")).join(t2, Seq("id2"))
      .select(col("id1"), col("id2"),
        me.cast("float").as("me_lev"),
        cb.as("cos_bag"),
        greatest(me.cast("float"), cb.cast("float")).as("best"))
  }

  private val simCollectionSql = {
    val levSim = "CASE WHEN greatest(length(t), length(u)) = 0 THEN 1.0 " +
      "ELSE 1.0 - levenshtein(t, u)::DOUBLE / greatest(length(t), length(u)) END"
    s"""WITH ${OracleGen.nrmCte},
${OracleGen.wordNgramCtes(Queries.ngramN)},
${OracleGen.invertedIndexCandsCte},
tk AS (
  SELECT doc_id,
    CASE WHEN length(norm) = 0 THEN []::VARCHAR[]
         ELSE string_split(norm, ' ')[1:8] END AS toks
  FROM nrm),
s AS (
  SELECT c.id1, c.id2, a.toks AS t1, b.toks AS t2,
    CASE WHEN len(a.toks) = 0 AND len(b.toks) = 0 THEN 1.0
         WHEN len(a.toks) = 0 OR len(b.toks) = 0 THEN 0.0
         ELSE list_aggregate(list_transform(a.toks, t ->
                list_max(list_transform(b.toks, u -> $levSim))), 'avg')
    END AS me_raw,
    CASE WHEN len(a.toks) = 0 AND len(b.toks) = 0 THEN 1.0
         WHEN len(a.toks) = 0 OR len(b.toks) = 0 THEN 0.0
         ELSE CAST(list_aggregate(list_transform(list_distinct(a.toks), t ->
                len(list_filter(a.toks, x -> x = t)) * len(list_filter(b.toks, y -> y = t))), 'sum') AS DOUBLE)
              / (sqrt(CAST(list_aggregate(list_transform(list_distinct(a.toks), t ->
                   len(list_filter(a.toks, x -> x = t)) * len(list_filter(a.toks, y -> y = t))), 'sum') AS DOUBLE))
               * sqrt(CAST(list_aggregate(list_transform(list_distinct(b.toks), t ->
                   len(list_filter(b.toks, x -> x = t)) * len(list_filter(b.toks, y -> y = t))), 'sum') AS DOUBLE)))
    END AS cos_bag
  FROM cands c JOIN tk a ON a.doc_id = c.id1 JOIN tk b ON b.doc_id = c.id2)
SELECT id1, id2, me_raw::FLOAT AS me_lev, cos_bag,
  greatest(me_raw::FLOAT, cos_bag::FLOAT) AS best
FROM s"""
  }

  // --------------------------------------------------- multi-pass SNM

  /** The reference's multi-pass SNM with a composite second key
    * (null-propagating, `CompositeValue.java:71-77`): union of passes,
    * cross-pass distinct.
    */
  def snmMultipass(spark: SparkSession, dir: String): DataFrame = {
    val cust = table(spark, dir, "customer")
    val p1 = Blocking.snmPairsScalable(cust, "c_custkey", col("c_name"), Queries.snmWindow)
    val p2 = Blocking.snmPairsScalable(
      cust.where(col("c_mktsegment").isNotNull && col("c_acctbal").isNotNull),
      "c_custkey", struct(col("c_mktsegment"), col("c_acctbal")), Queries.snmWindow)
    p1.unionAll(p2).distinct()
  }

  private val snmMultipassSql =
    s"""WITH b1 AS (
  SELECT c_custkey AS id, c_name AS key FROM customer WHERE c_name IS NOT NULL),
l1 AS (
  SELECT id, lag(id, 1) OVER (ORDER BY key, id) AS p1,
    lag(id, 2) OVER (ORDER BY key, id) AS p2 FROM b1),
b2 AS (
  SELECT c_custkey AS id, c_mktsegment AS k1, c_acctbal AS k2 FROM customer
  WHERE c_mktsegment IS NOT NULL AND c_acctbal IS NOT NULL),
l2 AS (
  SELECT id, lag(id, 1) OVER (ORDER BY k1, k2, id) AS p1,
    lag(id, 2) OVER (ORDER BY k1, k2, id) AS p2 FROM b2),
u AS (
  SELECT id, p1 AS p FROM l1 UNION ALL SELECT id, p2 FROM l1
  UNION ALL SELECT id, p1 FROM l2 UNION ALL SELECT id, p2 FROM l2)
SELECT DISTINCT least(id, p) AS id1, greatest(id, p) AS id2 FROM u WHERE p IS NOT NULL"""

  // ------------------------------------------------------ event windows

  /** Hourly tumbling-window aggregation over the events stream table (the
    * batch form of the Structured Streaming windowed agg). Sums cast to
    * float: double summation order is engine-dependent, float rounding is
    * not.
    */
  def evHourly(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        sum(col("value")).cast("float").as("sum_value"))

  def evSessionize(spark: SparkSession, dir: String): DataFrame =
    Events.sessionize(table(spark, dir, "events"))

  private val evSessionizeSql =
    """WITH o AS (
  SELECT user_id, event_id, ts, value, epoch_us(ts) AS us,
    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
  FROM events WHERE ts IS NOT NULL),
f AS (
  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS is_new
  FROM o),
s AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM f)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx, count(*) AS n_events,
  min(ts) AS session_start,
  max(us) - min(us) AS duration_us,
  sum(value)::FLOAT AS sum_value
FROM s GROUP BY 1, 2"""

  private val evHourlySql =
    """SELECT user_id, date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n, min(value) AS min_value, max(value) AS max_value,
       sum(value)::FLOAT AS sum_value
       FROM events GROUP BY 1, 2, 3"""

  /** Linear-counting bitmap width (bits) for the distinct-user sketch. */
  val approxUsersM = 4096

  def evApproxUsers(spark: SparkSession, dir: String): DataFrame =
    Events.approxUsers(table(spark, dir, "events"), approxUsersM)

  private val evApproxUsersSql =
    s"""WITH b AS (
  SELECT date_trunc('hour', ts) AS hour_ts, user_id,
    (${Signatures.hash60Sql("'u:' || CAST(user_id AS VARCHAR)")} % $approxUsersM) AS bit
  FROM events),
w AS (
  SELECT hour_ts, bit // 32 AS wi,
    bit_or(1::BIGINT << CAST(bit % 32 AS INT)) AS word
  FROM b GROUP BY 1, 2),
s AS (SELECT hour_ts, CAST(sum(bit_count(word)) AS BIGINT) AS bits_set FROM w GROUP BY 1),
e AS (SELECT hour_ts, count(*) AS n_events, count(DISTINCT user_id) AS n_users
      FROM b GROUP BY 1)
SELECT e.hour_ts, e.n_events, e.n_users, s.bits_set
FROM e JOIN s USING (hour_ts)"""

  /** Count-min sketch geometry (d hash rows × w counters) and cut. */
  val cmsD = 4
  val cmsW = 64
  val cmsTopN = 20

  def evHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    Events.heavyHitters(table(spark, dir, "events"), cmsD, cmsW, cmsTopN)

  private val evHeavyHittersSql = {
    val bucket = Signatures.hash60Sql(
      "'cms:' || CAST(i AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)") + s" % $cmsW"
    s"""WITH ids AS (SELECT unnest(generate_series(0, ${cmsD - 1})) AS i),
b AS (SELECT e.user_id, ids.i, $bucket AS bucket FROM events e CROSS JOIN ids),
cnt AS (SELECT i, bucket, count(*) AS c FROM b GROUP BY 1, 2),
t AS (SELECT user_id, count(*) AS n_true FROM events GROUP BY 1
      ORDER BY n_true DESC, user_id LIMIT $cmsTopN),
p AS (SELECT t.user_id, t.n_true, ids.i, $bucket AS bucket
      FROM t CROSS JOIN ids)
SELECT p.user_id, p.n_true, CAST(min(c.c) AS BIGINT) AS n_cms
FROM p JOIN cnt c ON c.i = p.i AND c.bucket = p.bucket
GROUP BY 1, 2"""
  }

  /** Path length and cut for the top event-type paths. */
  val topPathsK = 5
  val topPathsN = 20

  def evTopkPaths(spark: SparkSession, dir: String): DataFrame =
    Events.topPaths(table(spark, dir, "events"), topPathsK, topPathsN)

  private val evTopkPathsSql =
    s"""WITH r AS (
  SELECT user_id, event_type,
    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events),
p AS (
  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path,
    count(*) AS n_steps
  FROM r WHERE rn <= $topPathsK GROUP BY 1)
SELECT path, CAST(max(n_steps) AS BIGINT) AS n_steps, count(*) AS n_users
FROM p GROUP BY 1
ORDER BY n_users DESC, path LIMIT $topPathsN"""

  /** Refinement over the cc_clusters partition by
    * [[graft.cluster.Refine.refineAll]], with Jaccard-threshold signed
    * weights. The planted near-dup clusters are all-positive-weight cliques,
    * so refinement must keep them whole — the oracle is therefore the CC
    * oracle itself, and any spurious split fails the hash compare.
    */
  def refineClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.cluster.Refine
    val t = Queries.ngramJaccardT
    // every input below is a shared persisted stage — nothing recomputed
    val scored = Classifier.classify(Queries.ddNgramJaccard(spark, dir),
      Classifier.thresholdRule("jaccard", col("jaccard"), t))
    Refine.refineAll[Long, Seq[Long]](
      Queries.ccAssign(spark, dir),
      Queries.docHashedShingles(spark, dir),
      scored.select(col("id1"), col("id2"),
        Refine.classificationWeight(col("classification"), col("confidence"))),
      (a, b) => Refine.thresholdWeight(graft.similarity.ScalarSims.jaccard[Long](a, b), t))
      .toDF("doc_id", "cluster_id")
  }

  /** Materialized last-wins dedup (ref `Deduplication
    * .materializedDeduplicate`, `core/.../Deduplication.java:86-91`): latest
    * row per (user_id, event_type), ties broken by event_id for
    * determinism.
    */
  def dedupLastwins(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    table(spark, dir, "events")
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"), col("value"))
  }

  private val dedupLastwinsSql =
    """SELECT user_id, event_type, event_id, ts, value FROM (
       SELECT *, row_number() OVER (
         PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
       FROM events) WHERE rn = 1"""

  // ------------------------------------------------------- multimodal

  /** Real binary decode (JDK ImageIO) over a generated image table, with a
    * REAL oracle: the generator's intended metadata (image_id, fmt, w, h)
    * is emitted as a parquet side table, and the query's output is computed
    * from the DECODED bytes — n/n_ok/min/max dimensions hash-match only if
    * every image decodes and reproduces its metadata. Luma invariants stay
    * in OpsSpec (float summation is not oracle-portable).
    */
  // Generator parameters shared by every mm query body AND its side-table
  // writer. A side-table PATH encodes n, seed and a hand-bumped version,
  // nothing else: a change to the generator, decode or oracle code must
  // bump the version, or a host that already wrote the table keeps reading
  // the stale one (keying paths by their inputs: ROADMAP direction 8(a)).
  val mmImageN = 400L;  val mmImageSeed = 7L
  val mmVideoN = 300L;  val mmVideoSeed = 11L
  val mmAudioN = 300L;  val mmAudioSeed = 13L
  val mmMetaPath = s"/tmp/graft_mm_meta_n${mmImageN}_s${mmImageSeed}_v4"
  val mmVideoMetaPath = s"/tmp/graft_video_meta_n${mmVideoN}_s${mmVideoSeed}_v1"
  val mmAudioMetaPath = s"/tmp/graft_audio_meta_n${mmAudioN}_s${mmAudioSeed}_v1"

  /** Each side table is written AT MOST ONCE per host (skipped when its
    * _SUCCESS marker exists): re-runs and concurrent sessions read identical
    * bytes instead of racing an overwrite. That holds only while the path
    * (n, seed, version) changes with the contents; ImageGen, decode and
    * PipeOracle code are not in it (see the version note above). One lock
    * serializes the rare first-writes.
    */
  private val mmSideTableLock = new Object
  private def ensureSideTable(path: String)(build: => DataFrame): Unit =
    mmSideTableLock.synchronized {
      if (!new java.io.File(path, "_SUCCESS").exists())
        build.coalesce(1).write.mode("overwrite").parquet(path)
    }

  /** (image_id, fmt, w, h) is the generator's INTENDED metadata — mm_stats
    * hash-matches only if decode reproduces it. phash_dct is decode-derived
    * (the lossy formats have no pre-encode hash that decode could match);
    * it gates the pair-blocking and Hamming machinery of mm_phash_pairs
    * against an independent SQL implementation, not the decode itself.
    */
  private def ensureMmMeta(gen: org.apache.spark.sql.Dataset[graft.gen.ImageGen.GenRecord]): Unit =
    ensureSideTable(mmMetaPath) {
      val spark = gen.sparkSession
      import spark.implicits._
      gen.map { r =>
        val (w, h, px) = graft.gen.ImageGen.decode(r.bytes)
        (r.image_id, r.fmt, r.w, r.h, graft.ops.PHash.dctHash64(px, w, h),
          graft.ops.PHash.dHash64(px, w, h), graft.ops.PHash.pixelSha(px, w, h),
          r.caption)
      }.toDF("image_id", "fmt", "w", "h", "phash_dct", "dhash_grad", "pixel_sha",
        "caption")
    }

  def mmStats(spark: SparkSession, dir: String): DataFrame = {
    val gen = graft.gen.ImageGen.generate(spark, mmImageN, seed = mmImageSeed, partitions = 8)
    ensureMmMeta(gen)
    val images = graft.gen.ImageGen.asImages(gen).toDF()
    Multimodal.decodeStats(Multimodal.decodeFeatures(images))
  }

  private val mmStatsSql =
    s"""SELECT fmt, count(*) AS n, count(*) AS n_ok,
  CAST(min(w) AS INT) AS min_w, CAST(max(w) AS INT) AS max_w,
  CAST(min(h) AS INT) AS min_h, CAST(max(h) AS INT) AS max_h
FROM read_parquet('$mmMetaPath/*.parquet') GROUP BY fmt"""

  /** Image near-duplicate pairs over the DCT perceptual hash: pigeonhole
    * bit-block blocking (8 x 8-bit blocks) + Hamming verify at t = 7.
    * t = blocks-1 makes the blocking LOSSLESS (any two hashes within
    * Hamming 7 agree on at least one full block), so the DuckDB oracle is
    * the plain all-pairs Hamming join — the distributed candidate
    * generation must reproduce it exactly, with zero misses.
    *
    * Scale note: 8-bit blocks (256 bucket values per block index) are the
    * demo geometry for n=400; at corpus scale the pipeline's phash pass
    * uses wider blocks (Model.scala phashBlocks = 2 x 32-bit) so buckets
    * stay selective — guarantee Hamming <= blocks-1, recall beyond that
    * from the cross-pass union (see Model.scala:106).
    */
  val mmPhashBlocks = 8
  val mmHammingT: Int = mmPhashBlocks - 1

  /** Memoized decode-feature stage shared by every image query: the binary
    * column is consumed once, only (id, hashes, sha) rows persist.
    */
  private def mmFeats(spark: SparkSession, dir: String): DataFrame = {
    val gen = graft.gen.ImageGen.generate(spark, mmImageN, seed = mmImageSeed, partitions = 8)
    ensureMmMeta(gen)
    QueryCache.memo(spark, "mm_feats", dir) {
      Multimodal.decodeFeatures(graft.gen.ImageGen.asImages(gen).toDF())
        .select(col("image_id").as("id"), col("phash_dct"), col("dhash_grad"),
          col("pixel_sha"), col("decode_ok"), col("w"), col("h"))
    }
  }

  /** Blocked + Hamming-verified near-dup pairs on one 64-bit hash column. */
  private def hashPairs(feats: DataFrame, hashCol: String): DataFrame = {
    val cands = Blocking.bitBlockPairs(feats, "id", hashCol, mmPhashBlocks, 64)
    cands
      .join(feats.select(col("id").as("id1"), col(hashCol).as("ph1")), "id1")
      .join(feats.select(col("id").as("id2"), col(hashCol).as("ph2")), "id2")
      .select(col("id1"), col("id2"),
        bit_count(col("ph1").bitwiseXOR(col("ph2"))).cast("int").as("hd"))
      .where(col("hd") <= mmHammingT)
  }

  def mmPhashPairs(spark: SparkSession, dir: String): DataFrame =
    QueryCache.memo(spark, "mm_phash_pairs", dir) {
      hashPairs(mmFeats(spark, dir), "phash_dct")
    }

  /** Gradient-hash (dHash) near-dup pairs — the complementary perceptual
    * geometry to mm_phash_pairs (see [[graft.ops.PHash.dHash64]]); same
    * lossless pigeonhole blocking, same all-pairs Hamming oracle.
    */
  def mmDhashPairs(spark: SparkSession, dir: String): DataFrame =
    hashPairs(mmFeats(spark, dir), "dhash_grad")

  /** Composite count for the partial-duplicate (tile) corpus; the side
    * table path encodes every generator parameter + a schema version.
    */
  val mmTileComposites = 60L
  val mmTileMetaPath =
    s"/tmp/graft_mm_tile_n${mmImageN}_c${mmTileComposites}_s${mmImageSeed}_v1"

  /** The image corpus plus planted composites (fresh canvas, one quadrant
    * copied verbatim from an original — ImageGen.compositeRecord).
    */
  private def mmTileGen(spark: SparkSession) =
    graft.gen.ImageGen.generate(spark, mmImageN, seed = mmImageSeed, partitions = 8)
      .unionByName(graft.gen.ImageGen.generateComposites(
        spark, mmTileComposites, mmImageN, seed = mmImageSeed, partitions = 4))

  /** Partial-duplicate image pairs over per-quadrant dHashes
    * ([[graft.ops.PHash.tileDHashes]]): a pair matches when any of the 4
    * tile hashes matches EXACTLY — the collage/meme/region-reuse signal a
    * whole-image hash averages away (the generator plants composites whose
    * NW quadrant is copied verbatim from an original into
    * otherwise-unrelated pixels). Exact match, not near-Hamming, is the
    * right tile geometry: region reuse is pixel-verbatim at the storage
    * layer so the planted tile lands at distance 0, while this corpus'
    * smooth gradients give a near-FLAT background distribution at hd ≥ 1
    * (measured: ~340-500 spurious pairs per Hamming bin at every
    * 1 ≤ hd ≤ 9) — any radius > 0 buys only noise, and lossy near-dups
    * already belong to the whole-image mm_phash/mm_dhash family. Matching
    * is one capped-bucket equality pass per tile index over the memoized
    * 4-hash decode stage (bytes never shuffle); per pair, the matched
    * tile count is the union of the per-tile distinct pair sets.
    */
  def mmTilePairs(spark: SparkSession, dir: String): DataFrame = {
    val gen = mmTileGen(spark)
    ensureSideTable(mmTileMetaPath) {
      val s = spark
      import s.implicits._
      gen.map { r =>
        val (w, h, px) = graft.gen.ImageGen.decode(r.bytes)
        val t = graft.ops.PHash.tileDHashes(px, w, h)
        (r.image_id, t(0), t(1), t(2), t(3))
      }.toDF("image_id", "t0", "t1", "t2", "t3")
    }
    val feats = QueryCache.memo(spark, "mm_tile_feats", dir) {
      Multimodal.decodeTileHashes(
        graft.gen.ImageGen.asImages(gen).toDF()).where(col("decode_ok"))
    }
    // one tile-prefixed key frame, ONE bucket/pair pass: each image holds
    // exactly one key per tile namespace ("ti:hash"), so a pair's shared-key
    // count across the union IS its matched-tile count — four pairsFromKeys
    // passes (4 shuffles + 4 distincts) collapse into one counted pass
    val keyed = feats.select(col("id"), explode(array((0 until 4).map(ti =>
      concat(lit(s"$ti:"), col(s"t$ti"))): _*)).as("key"))
    Blocking.pairsFromKeysCounted(keyed)
      .select(col("id1"), col("id2"), col("n_shared").cast("int").as("n_tiles"))
  }

  private val mmTilePairsSql =
    s"""WITH m AS (SELECT * FROM read_parquet('$mmTileMetaPath/*.parquet')),
p AS (
  SELECT a.image_id AS id1, b.image_id AS id2,
    (CASE WHEN a.t0 = b.t0 THEN 1 ELSE 0 END +
     CASE WHEN a.t1 = b.t1 THEN 1 ELSE 0 END +
     CASE WHEN a.t2 = b.t2 THEN 1 ELSE 0 END +
     CASE WHEN a.t3 = b.t3 THEN 1 ELSE 0 END) AS n_tiles
  FROM m a JOIN m b ON a.image_id < b.image_id)
SELECT id1, id2, CAST(n_tiles AS INT) AS n_tiles
FROM p WHERE n_tiles >= 1"""

  /** Exact image dedup on the decoded-pixel content key (the image analog
    * of dd_exact): collapses byte-identical copies AND lossless re-encodes.
    * The oracle groups the side table's independently-derived pixel_sha, so
    * the hash only matches if the distributed groupBy reproduces the
    * planted copy structure exactly — and the sha strings themselves match.
    */
  def mmExact(spark: SparkSession, dir: String): DataFrame =
    // rides the memoized decode stage (decode once across the image family)
    // instead of re-decoding the binary column per invocation
    mmFeats(spark, dir).where(col("decode_ok"))
      .groupBy(col("pixel_sha"))
      .agg(count(lit(1)).as("n_copies"), min(col("id")).as("rep_id"))

  private val mmExactSql =
    s"""SELECT pixel_sha, count(*) AS n_copies, min(image_id) AS rep_id
FROM read_parquet('$mmMetaPath/*.parquet') GROUP BY 1"""

  /** End-to-end image dedup: pHash near-dup pairs -> distributed connected
    * components -> (image_id, cluster_id = min member), singletons mapping
    * to themselves — keep-one-per-cluster is then a groupBy(cluster_id).
    * The oracle recomputes the transitive closure from scratch (recursive
    * CTE over the all-pairs Hamming edge set), so blocking, verification
    * AND the large-star/small-star fixpoint must all agree exactly.
    */
  def mmDedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val feats = mmFeats(spark, dir)
    val pairs = mmPhashPairs(spark, dir).select(col("id1"), col("id2"))
    graft.cluster.ConnectedComponents.assignAll(feats, "id", pairs)
      .select(col("id").as("image_id"), col("cluster_id"))
  }

  /** Cross-modal consistency gate: image-level near-dup pairs (pHash
    * Hamming <= t) whose CAPTIONS disagree (word-3-gram Jaccard < 0.5) —
    * the repost/mislabel signal an image+caption curation pipeline flags
    * before fusing duplicates (a caption-edit dup keeps high Jaccard and
    * stays out; two different scenes colliding in pHash space, or a
    * re-captioned repost, land here). Reuses the memoized pHash pair stage
    * and the sorted-long intersection kernel; the oracle recomputes the
    * Hamming join AND the n-gram Jaccard from scratch — including
    * zero-overlap pairs, which an inner intersection join would silently
    * drop.
    */
  val mmCaptionMismatchT = 0.5

  def mmCaptionMismatch(spark: SparkSession, dir: String): DataFrame = {
    val gen = graft.gen.ImageGen.generate(spark, mmImageN, seed = mmImageSeed, partitions = 8)
    ensureMmMeta(gen)
    val shs = gen.toDF().select(col("image_id").as("id"),
      array_sort(transform(
        Signatures.wordNgramsCol(Signatures.normalizeCol(col("caption")), 3),
        s => Signatures.hash60Col(s))).as("shs"))
    mmPhashPairs(spark, dir)
      .join(shs.select(col("id").as("id1"), col("shs").as("sh1")), "id1")
      .join(shs.select(col("id").as("id2"), col("shs").as("sh2")), "id2")
      .select(col("id1"), col("id2"), col("hd"),
        graft.functions.SortedIntersect.jaccardSorted(col("sh1"), col("sh2"))
          .as("caption_jaccard"))
      .where(col("caption_jaccard") < mmCaptionMismatchT)
  }

  private val mmCaptionMismatchSql =
    s"""WITH m AS (
  SELECT image_id, phash_dct, caption FROM read_parquet('$mmMetaPath/*.parquet')),
nrm AS (SELECT image_id AS doc_id, ${Signatures.normalizeSql("caption")} AS norm FROM m),
${OracleGen.wordNgramCtes(3)},
cnt AS (
  SELECT n.doc_id, count(s.sh) AS n
  FROM nrm n LEFT JOIN sh s ON s.doc_id = n.doc_id
  GROUP BY 1),
cands AS (
  SELECT a.image_id AS id1, b.image_id AS id2,
    CAST(bit_count(xor(a.phash_dct, b.phash_dct)) AS INT) AS hd
  FROM m a JOIN m b ON a.image_id < b.image_id
  WHERE bit_count(xor(a.phash_dct, b.phash_dct)) <= $mmHammingT),
inter AS (
  SELECT c.id1, c.id2, count(*) AS c
  FROM cands c
  JOIN sh s1 ON s1.doc_id = c.id1
  JOIN sh s2 ON s2.doc_id = c.id2 AND s2.sh = s1.sh
  GROUP BY 1, 2),
jac AS (
  -- cnt is built by LEFT JOIN from nrm so zero-ngram captions still join;
  -- zero union = 1.0 (both empty: identical, NOT a mismatch) — mirrors the
  -- engine's jaccardSorted guard exactly
  SELECT c.id1, c.id2, c.hd,
    CASE WHEN c1.n + c2.n - coalesce(i.c, 0) = 0 THEN 1.0
         ELSE CAST(coalesce(i.c, 0) AS DOUBLE) / (c1.n + c2.n - coalesce(i.c, 0))
    END AS caption_jaccard
  FROM cands c
  LEFT JOIN inter i ON i.id1 = c.id1 AND i.id2 = c.id2
  JOIN cnt c1 ON c1.doc_id = c.id1
  JOIN cnt c2 ON c2.doc_id = c.id2)
SELECT id1, id2, hd, caption_jaccard FROM jac
WHERE caption_jaccard < $mmCaptionMismatchT"""

  private val mmDedupClustersSql =
    s"""WITH RECURSIVE m AS (
  SELECT image_id, phash_dct FROM read_parquet('$mmMetaPath/*.parquet')),
pairs AS (
  SELECT a.image_id AS id1, b.image_id AS id2
  FROM m a JOIN m b ON a.image_id < b.image_id
  WHERE bit_count(xor(a.phash_dct, b.phash_dct)) <= $mmHammingT),
edges AS (
  SELECT id1 AS a, id2 AS b FROM pairs
  UNION ALL SELECT id2, id1 FROM pairs),
reach(n, r) AS (
  SELECT image_id, image_id FROM m
  UNION
  SELECT reach.n, e.b FROM reach JOIN edges e ON e.a = reach.r)
SELECT n AS image_id, min(r) AS cluster_id FROM reach GROUP BY 1"""

  /** Image-cluster keep-list — the LAION-style survivor policy over
    * [[mmDedupClusters]]' assignments: per pHash near-dup cluster keep the
    * highest-RESOLUTION member (max decoded w*h, ties to the lowest
    * image_id), flag the rest for drop. Rides the memoized decode and
    * cluster stages (bytes never move); election semantics in
    * [[graft.ops.Keeplist]] (argmin aggregate, no per-cluster window). The
    * oracle recomputes the transitive closure AND the election from the
    * side table's independently-derived metadata — a wrong decode
    * dimension or a biased tie-break flips rep_id and breaks the hash.
    */
  def mmKeeplist(spark: SparkSession, dir: String): DataFrame = {
    val scores = mmFeats(spark, dir).where(col("decode_ok"))
      .select(col("id").as("image_id"),
        (col("w").cast("long") * col("h")).as("n_px"))
    graft.ops.Keeplist.elect(
      mmDedupClusters(spark, dir), scores, "image_id", "n_px")
  }

  private val mmKeeplistSql =
    s"""WITH RECURSIVE m AS (
  SELECT image_id, phash_dct, CAST(w AS BIGINT) * h AS n_px
  FROM read_parquet('$mmMetaPath/*.parquet')),
pairs AS (
  SELECT a.image_id AS id1, b.image_id AS id2
  FROM m a JOIN m b ON a.image_id < b.image_id
  WHERE bit_count(xor(a.phash_dct, b.phash_dct)) <= $mmHammingT),
edges AS (
  SELECT id1 AS a, id2 AS b FROM pairs
  UNION ALL SELECT id2, id1 FROM pairs),
reach(n, r) AS (
  SELECT image_id, image_id FROM m
  UNION
  SELECT reach.n, e.b FROM reach JOIN edges e ON e.a = reach.r),
cc AS (SELECT n AS image_id, min(r) AS cluster_id FROM reach GROUP BY 1),
sc AS (SELECT c.image_id, c.cluster_id, m.n_px FROM cc c JOIN m USING (image_id)),
rp AS (
  SELECT cluster_id, image_id AS rep_id FROM (
    SELECT cluster_id, image_id,
      row_number() OVER (PARTITION BY cluster_id
                         ORDER BY n_px DESC, image_id) AS rn
    FROM sc) WHERE rn = 1),
cs AS (SELECT cluster_id, count(*) AS cluster_size FROM sc GROUP BY 1)
SELECT s.image_id, s.cluster_id, c.cluster_size, r.rep_id,
  s.image_id = r.rep_id AS keep, s.n_px
FROM sc s JOIN rp r USING (cluster_id) JOIN cs c USING (cluster_id)"""

  /** mm_filter thresholds — chosen so every rule is EXERCISED on the
    * n=400 demo table (257 low-res, 62 bad-aspect, 44 short-caption rows):
    * min 2500 decoded pixels, aspect ratio ≤ 3:2, caption 10–64 words.
    * At corpus scale these are per-run config, not constants.
    */
  val mmFilterMinPx = 2500L
  val mmFilterAspectN = 3; val mmFilterAspectD = 2
  val mmFilterMinWords = 10; val mmFilterMaxWords = 64

  /** LAION-style curation gate over the image table — the keep/drop +
    * reason decision a multimodal pipeline applies BEFORE any dedup work:
    * resolution, aspect-ratio, and caption-length rules as pure integer
    * Column predicates ([[graft.ops.Curation.imageFilter]] — a narrow
    * map stage, zero shuffles past the input join). Dims are DECODED
    * (memoized [[mmFeats]] stage), the oracle reads the generator's
    * intended dims from the side table — a wrong decode flips n_px and
    * breaks the hash. The caption join is broadcast at demo scale; in
    * production the caption rides the same row and the operator is pure
    * map.
    */
  def mmFilter(spark: SparkSession, dir: String): DataFrame = {
    val gen = graft.gen.ImageGen.generate(spark, mmImageN, seed = mmImageSeed, partitions = 8)
    ensureMmMeta(gen)
    val caps = graft.gen.ImageGen.asImages(gen).toDF()
      .select(col("image_id"), col("caption"))
    val dims = mmFeats(spark, dir).where(col("decode_ok"))
      .select(col("id").as("image_id"), col("w"), col("h"))
    graft.ops.Curation.imageFilter(dims.join(caps, Seq("image_id")),
        mmFilterMinPx, mmFilterAspectN, mmFilterAspectD,
        mmFilterMinWords, mmFilterMaxWords)
      .select(col("image_id"), col("w"), col("h"), col("n_px"),
        col("n_cap_words"), col("keep"), col("drop_reason"))
  }

  private val mmFilterSql =
    s"""SELECT image_id, w, h,
  ${graft.ops.Curation.imageFilterSql(mmFilterMinPx, mmFilterAspectN,
        mmFilterAspectD, mmFilterMinWords, mmFilterMaxWords)}
FROM read_parquet('$mmMetaPath/*.parquet')"""

  /** Frame sampling end-to-end gate: the query demuxes the binary video
    * column and sums sampled frames' bytes; the oracle reads the
    * generator's per-frame truth (computed from the pixel function, never
    * from the encoded bytes) and applies the same stride in SQL — a wrong
    * frame offset, stride, or header parse breaks the hash.
    */
  val mmFrameEvery = 3

  def mmFrameSample(spark: SparkSession, dir: String): DataFrame = {
    ensureSideTable(mmVideoMetaPath) {
      graft.gen.VideoGen.generateMeta(spark, mmVideoN, seed = mmVideoSeed).toDF()
    }
    val videos = graft.gen.VideoGen.generate(spark, mmVideoN, seed = mmVideoSeed).toDF()
    Multimodal.frameSample(videos, mmFrameEvery).toDF()
      .select(col("video_id"), col("frame_idx"), col("luma_sum"))
  }

  private val mmFrameSampleSql =
    s"""SELECT video_id, frame_idx, luma_sum
FROM read_parquet('$mmVideoMetaPath/*.parquet')
WHERE frame_idx % $mmFrameEvery = 0"""

  /** Near-duplicate video detection end-to-end: the corpus plants exact
    * and trimmed reposts (VideoGen.generateCorpus), the query decodes the
    * containers and pairs videos on shared frame signatures with Jaccard
    * >= threshold, the oracle computes the same pairs from the generator's
    * per-frame truth (never the bytes) — a wrong stride, header parse, or
    * frame slice breaks the hash. Cap mirrored like dd_ngram_jaccard's.
    */
  val mmVideoDupN = 360L   // 300 originals + 60 planted reposts
  val mmVideoDupThreshold = 0.5
  private val mmVideoDupMetaPath =
    s"/tmp/graft_video_dup_meta_n${mmVideoDupN}_o${mmVideoN}_s${mmVideoSeed}_v1"

  def mmVideoDupes(spark: SparkSession, dir: String): DataFrame = {
    ensureSideTable(mmVideoDupMetaPath) {
      graft.gen.VideoGen.generateCorpusMeta(spark, mmVideoDupN, mmVideoN,
        seed = mmVideoSeed).toDF()
    }
    val videos = graft.gen.VideoGen.generateCorpus(spark, mmVideoDupN, mmVideoN,
      seed = mmVideoSeed).toDF()
    Multimodal.videoDupes(videos, mmVideoDupThreshold, Queries.bucketCap)
  }

  private val mmVideoDupesSql =
    s"""WITH fm AS (
  SELECT DISTINCT video_id, luma_sum AS sig
  FROM read_parquet('$mmVideoDupMetaPath/*.parquet')),
cnt AS (SELECT video_id, count(*) AS n FROM fm GROUP BY 1),
keyok AS (SELECT sig FROM fm GROUP BY sig HAVING count(*) BETWEEN 2 AND ${Queries.bucketCap}),
inter AS (
  SELECT a.video_id AS video_id1, b.video_id AS video_id2, count(*) AS n_common
  FROM fm a JOIN keyok k ON k.sig = a.sig
  JOIN fm b ON b.sig = a.sig AND a.video_id < b.video_id
  GROUP BY 1, 2)
SELECT i.video_id1, i.video_id2, i.n_common, c1.n AS n1, c2.n AS n2,
  CAST(i.n_common AS DOUBLE) / (c1.n + c2.n - i.n_common) AS jaccard
FROM inter i
JOIN cnt c1 ON c1.video_id = i.video_id1
JOIN cnt c2 ON c2.video_id = i.video_id2
WHERE CAST(i.n_common AS DOUBLE) / (c1.n + c2.n - i.n_common) >= $mmVideoDupThreshold"""

  /** Near-duplicate AUDIO detection — the audio analog of mm_video_dupes:
    * 300 originals + 60 planted reposts (exact / leading-window trim /
    * trailing-window trim, window-aligned so content signatures survive),
    * each clip reduced to its distinct window-loudness signature set,
    * capped inverted-index Jaccard at 0.5. The oracle recomputes pairs
    * from per-window generator truth (the sample function, never the
    * bytes), so header parse, endianness, window stride, AND the pairing
    * machinery must all agree.
    */
  val mmAudioDupN = 360L   // 300 originals + 60 planted reposts
  val mmAudioDupThreshold = 0.5
  private val mmAudioDupMetaPath =
    s"/tmp/graft_audio_dup_meta_n${mmAudioDupN}_o${mmAudioN}_s${mmAudioSeed}_v1"

  def mmAudioDupes(spark: SparkSession, dir: String): DataFrame = {
    ensureSideTable(mmAudioDupMetaPath) {
      graft.gen.AudioGen.generateCorpusWinMeta(spark, mmAudioDupN, mmAudioN,
        seed = mmAudioSeed).toDF()
    }
    val audios = graft.gen.AudioGen.generateCorpus(spark, mmAudioDupN, mmAudioN,
      seed = mmAudioSeed).toDF()
    Multimodal.audioDupes(audios, mmAudioDupThreshold, Queries.bucketCap)
  }

  private val mmAudioDupesSql =
    s"""WITH fm AS (
  SELECT DISTINCT audio_id, win_sum AS sig
  FROM read_parquet('$mmAudioDupMetaPath/*.parquet')),
cnt AS (SELECT audio_id, count(*) AS n FROM fm GROUP BY 1),
keyok AS (SELECT sig FROM fm GROUP BY sig HAVING count(*) BETWEEN 2 AND ${Queries.bucketCap}),
inter AS (
  SELECT a.audio_id AS audio_id1, b.audio_id AS audio_id2, count(*) AS n_common
  FROM fm a JOIN keyok k ON k.sig = a.sig
  JOIN fm b ON b.sig = a.sig AND a.audio_id < b.audio_id
  GROUP BY 1, 2)
SELECT i.audio_id1, i.audio_id2, i.n_common, c1.n AS n1, c2.n AS n2,
  CAST(i.n_common AS DOUBLE) / (c1.n + c2.n - i.n_common) AS jaccard
FROM inter i
JOIN cnt c1 ON c1.audio_id = i.audio_id1
JOIN cnt c2 ON c2.audio_id = i.audio_id2
WHERE CAST(i.n_common AS DOUBLE) / (c1.n + c2.n - i.n_common) >= $mmAudioDupThreshold"""

  /** Audio feature extraction end-to-end gate, same design as
    * mm_frame_sample: the query decodes the PCM container, the oracle
    * reads per-clip truth computed from the sample function (never the
    * encoded bytes) — a wrong endianness, header parse, or sample stride
    * breaks the hash.
    */
  def mmAudioFeatures(spark: SparkSession, dir: String): DataFrame = {
    ensureSideTable(mmAudioMetaPath) {
      graft.gen.AudioGen.generateMeta(spark, mmAudioN, seed = mmAudioSeed).toDF()
    }
    val audios = graft.gen.AudioGen.generate(spark, mmAudioN, seed = mmAudioSeed).toDF()
    Multimodal.audioFeatures(audios).toDF()
  }

  private val mmAudioFeaturesSql =
    s"""SELECT audio_id, sample_rate, n_samples, sum_abs, peak, zero_crossings
FROM read_parquet('$mmAudioMetaPath/*.parquet')"""

  private val mmPhashPairsSql =
    s"""SELECT a.image_id AS id1, b.image_id AS id2,
  CAST(bit_count(xor(a.phash_dct, b.phash_dct)) AS INT) AS hd
FROM read_parquet('$mmMetaPath/*.parquet') a
JOIN read_parquet('$mmMetaPath/*.parquet') b ON a.image_id < b.image_id
WHERE bit_count(xor(a.phash_dct, b.phash_dct)) <= $mmHammingT"""

  private val mmDhashPairsSql =
    s"""SELECT a.image_id AS id1, b.image_id AS id2,
  CAST(bit_count(xor(a.dhash_grad, b.dhash_grad)) AS INT) AS hd
FROM read_parquet('$mmMetaPath/*.parquet') a
JOIN read_parquet('$mmMetaPath/*.parquet') b ON a.image_id < b.image_id
WHERE bit_count(xor(a.dhash_grad, b.dhash_grad)) <= $mmHammingT"""

  // ----------------------------------------------- sampling / json / vocab

  /** Stratified keep-rates (buckets of 100) for the deterministic sampler:
    * the two named strata exercise the map path, everything else the
    * default fallback.
    */
  val sampleRates: Seq[(String, Int)] = Seq("en" -> 50, "zh" -> 35)
  val sampleDefaultRate = 20

  /** Deterministic hash-stratified corpus sampling — a pure map-side
    * filter (PlanSpec gates zero exchanges), reproducible across reruns.
    */
  def dsSample(spark: SparkSession, dir: String): DataFrame =
    Sampling.stratified(
      table(spark, dir, "documents").select(col("doc_id"), col("lang")),
      col("doc_id"), col("lang"), sampleRates.toMap, sampleDefaultRate)

  private val dsSampleSql = {
    val rate = sampleRates
      .map { case (s, r) => s"WHEN lang = '$s' THEN $r" }
      .mkString("CASE ", " ", s" ELSE $sampleDefaultRate END")
    s"""WITH b AS (
  SELECT doc_id, lang,
    ${Signatures.hash60Sql("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
  FROM documents)
SELECT doc_id, lang, bucket FROM b WHERE bucket < ($rate)"""
  }

  /** Concat-then-chunk sequence packing over the documents table (see
    * [[graft.ops.Packing.packChunks]]): whitespace token counts, context
    * length 2048. The oracle is the naive single-window global prefix sum —
    * the distributed two-phase scan must reproduce it bit for bit.
    */
  val packCapacity = 2048L

  def dsPack(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Packing.packChunks(
      table(spark, dir, "documents"),
      "doc_id", size(split(trim(col("text")), "\\s+")), packCapacity)

  private val dsPackSql =
    s"""WITH t AS (
  SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tok
  FROM documents),
c AS (
  SELECT doc_id, n_tok,
    CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
  FROM t)
SELECT doc_id, n_tok,
  CAST(cum_before // $packCapacity AS BIGINT) AS first_chunk,
  CAST(cum_before % $packCapacity AS BIGINT) AS chunk_offset,
  CAST((cum_before + greatest(n_tok, 1) - 1) // $packCapacity AS BIGINT) AS last_chunk,
  CAST((cum_before + greatest(n_tok, 1) - 1) // $packCapacity
    - cum_before // $packCapacity + 1 AS BIGINT) AS n_chunks
FROM c"""

  /** Per-language quota cap over documents (at most `balanceK` docs per
    * lang, lowest ids survive) — the anti-spam hard cap. Oracle = naive
    * per-stratum row_number.
    */
  val balanceK = 70L

  def dsBalance(spark: SparkSession, dir: String): DataFrame =
    Sampling.capPerStratum(
      table(spark, dir, "documents").select(col("doc_id"), col("lang")),
      "doc_id", "lang", balanceK)

  private val dsBalanceSql =
    s"""WITH r AS (
  SELECT doc_id, lang,
    CAST(row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT)
      AS rank_in_stratum
  FROM documents)
SELECT doc_id, lang, rank_in_stratum FROM r WHERE rank_in_stratum <= $balanceK"""

  /** Weighted-fair mixing schedule over documents by language (see
    * [[graft.ops.Interleave.schedule]]): en:zh:rest = 3:2:1. The oracle's
    * naive global row_number must match the distributed two-phase rank,
    * and the stride arithmetic is integer-exact.
    */
  val interleaveWeights: Map[String, Long] = Map("en" -> 3L, "zh" -> 2L)
  val interleaveDefaultW = 1L

  def dsInterleave(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Interleave.schedule(
      table(spark, dir, "documents"), "doc_id", "lang",
      interleaveWeights, interleaveDefaultW)

  private val dsInterleaveSql = {
    // derive L from the SAME constants the Scala side folds — a hardcoded
    // lcm would silently desynchronize the oracle when weights are edited
    val l = graft.ops.Interleave.lcmOf(interleaveWeights.values.toSeq :+ interleaveDefaultW)
    val cases = interleaveWeights
      .map { case (s, w) => s"WHEN '$s' THEN ${l / w}" }.mkString(" ")
    s"""WITH r AS (
  SELECT doc_id, lang,
    CAST(row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS rank_in_src
  FROM documents)
SELECT doc_id, lang, rank_in_src,
  rank_in_src * (CASE lang $cases ELSE ${l / interleaveDefaultW} END) AS sched_key
FROM r"""
  }

  /** Semi-structured JSON extraction + rollup over the event stream
    * (codegen'd `get_json_object`, order-independent aggregates only).
    */
  /** Hopping-window rollup: 1 h windows every 15 min (each event covers 4
    * windows). The oracle enumerates the covering epoch-aligned window
    * starts by floor division — Spark's window() generator must agree on
    * every boundary.
    */
  val hopWinSizeSec = 3600L
  val hopWinHopSec = 900L

  def evWindows(spark: SparkSession, dir: String): DataFrame =
    Events.hoppingWindows(table(spark, dir, "events"), hopWinSizeSec, hopWinHopSec)

  private val evWindowsSql = {
    val hopUs = hopWinHopSec * 1000000L
    val k = hopWinSizeSec / hopWinHopSec
    s"""WITH e AS (
  SELECT epoch_us(ts) AS u, event_type, user_id, value FROM events
  WHERE ts IS NOT NULL),
x AS (
  SELECT (u // $hopUs - j) * $hopUs AS win_start_us, event_type, user_id, value
  FROM e CROSS JOIN (SELECT unnest(range($k)) AS j))
SELECT win_start_us, event_type, count(*) AS n_events,
  count(DISTINCT user_id) AS n_users,
  min(value) AS min_value, max(value) AS max_value
FROM x GROUP BY 1, 2"""
  }

  /** Event-type transition matrix over consecutive per-user events. */
  def evTransitions(spark: SparkSession, dir: String): DataFrame =
    Events.transitions(table(spark, dir, "events"))

  private val evTransitionsSql =
    """WITH w AS (
  SELECT user_id, event_type AS from_type,
    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events)
SELECT from_type, to_type, count(*) AS n_transitions,
  count(DISTINCT user_id) AS n_users
FROM w WHERE to_type IS NOT NULL GROUP BY 1, 2"""

  def evProps(spark: SparkSession, dir: String): DataFrame =
    Events.propsRollup(table(spark, dir, "events"), "k")

  private val evPropsSql =
    """WITH e AS (
  SELECT event_type, user_id, value,
    CASE WHEN json_valid(props)
         THEN json_extract_string(props, '$.k')::BIGINT END AS k
  FROM events)
SELECT event_type, count(*) AS n_events, count(DISTINCT user_id) AS n_users,
  sum(k)::BIGINT AS sum_k, min(k) AS min_k, max(k) AS max_k,
  min(value) AS min_value, max(value) AS max_value
FROM e GROUP BY event_type"""

  /** Point-in-time as-of join re-expressed as a per-user running window
    * (no range self-join, no hot-user skew amplification).
    */
  def evAsof(spark: SparkSession, dir: String): DataFrame =
    Events.asofPrev(table(spark, dir, "events"))

  private val evAsofSql =
    """WITH w AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
    last_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_view_value,
    last_value(CASE WHEN event_type = 'view' THEN epoch_us(ts) END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_view_us
  FROM events)
SELECT event_id, user_id, prev_view_value, (us - prev_view_us) AS gap_us
FROM w WHERE event_type = 'purchase'"""

  /** Corpus top-k vocabulary per language via the lossless two-phase
    * top-k (no per-language single-task window at scale); the oracle is
    * the plain global top-k the two-phase shape must equal.
    */
  val vocabK = 10

  def taVocab(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.topTokens(table(spark, dir, "documents"), "text", k = vocabK)

  private val taVocabSql =
    s"""WITH n0 AS (
  SELECT lang, ${Signatures.normalizeSql("text")} AS norm FROM documents),
t AS (
  SELECT lang, unnest(string_split(norm, ' ')) AS token
  FROM n0 WHERE length(norm) > 0),
c AS (SELECT lang, token, count(*) AS n FROM t GROUP BY 1, 2),
r AS (
  SELECT lang, token, n,
    row_number() OVER (PARTITION BY lang ORDER BY n DESC, token) AS rnk
  FROM c)
SELECT lang, token, n, rnk FROM r WHERE rnk <= $vocabK"""

  /** Train/val/test split buckets out of 100 (last absorbs remainder). */
  val splitFractions: Seq[(String, Int)] = Seq("train" -> 90, "val" -> 5, "test" -> 5)

  /** Deterministic hash-bucket dataset split — pure row-local map, stable
    * across reruns/partitionings (PlanSpec gates zero exchanges).
    */
  def dsSplit(spark: SparkSession, dir: String): DataFrame =
    Sampling.split(
      table(spark, dir, "documents").select(col("doc_id"), col("lang")),
      col("doc_id"), splitFractions)

  private val dsSplitSql = {
    val cuts = splitFractions.map(_._2).scanLeft(0)(_ + _).tail
    val arms = splitFractions.zip(cuts).init
      .map { case ((name, _), cut) => s"WHEN bucket < $cut THEN '$name'" }
      .mkString(" ")
    s"""WITH b AS (
  SELECT doc_id, lang,
    ${Signatures.hash60Sql("'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS bucket
  FROM documents)
SELECT doc_id, lang, bucket,
  CASE $arms ELSE '${splitFractions.last._1}' END AS split
FROM b"""
  }

  /** Ordered conversion funnel over the event stream (strictly-after stage
    * sequencing; one scan-pruned pass per stage, all joins/aggs co-keyed on
    * user_id — PlanSpec gates the exchange count).
    */
  val funnelStages: Seq[String] = Seq("signup", "view", "click", "purchase")

  def evFunnel(spark: SparkSession, dir: String): DataFrame =
    Events.funnel(table(spark, dir, "events"), funnelStages)

  private val evFunnelSql = {
    val head = funnelStages.head
    val ctes = Seq(
      s"""s0 AS (
  SELECT user_id, min(epoch_us(ts)) AS t_${head}_us
  FROM events WHERE event_type = '$head' GROUP BY 1)""") ++
      funnelStages.sliding(2).filter(_.length == 2).zipWithIndex.map {
        case (Seq(prev, next), i) =>
          s"""s${i + 1} AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t_${next}_us
  FROM events e JOIN s$i USING (user_id)
  WHERE e.event_type = '$next' AND epoch_us(e.ts) > t_${prev}_us GROUP BY 1)"""
      }
    val depth = funnelStages.tail
      .map(s => s"CASE WHEN t_${s}_us IS NOT NULL THEN 1 ELSE 0 END")
      .mkString(" + ")
    val joins = funnelStages.tail.indices
      .map(i => s"LEFT JOIN s${i + 1} USING (user_id)").mkString(" ")
    s"""WITH ${ctes.mkString(",\n")}
SELECT user_id, ${funnelStages.map(s => s"t_${s}_us").mkString(", ")},
  CAST(1 + $depth AS INT) AS stage_depth
FROM s0 $joins"""
  }

  /** Day-granular cohort retention over the event stream (signup cohorts;
    * the 30-day synthetic stream yields a dense cohort × offset matrix).
    */
  def evRetention(spark: SparkSession, dir: String): DataFrame =
    Events.retention(table(spark, dir, "events"))

  private val evRetentionSql =
    """WITH d AS (
  SELECT user_id, ts::DATE AS day, event_type FROM events),
c AS (
  SELECT user_id, min(CASE WHEN event_type = 'signup' THEN day END) AS cohort_day
  FROM d GROUP BY 1),
a AS (
  SELECT DISTINCT d.user_id, c.cohort_day,
    date_diff('day', c.cohort_day, d.day) AS day_offset
  FROM d JOIN c USING (user_id)
  WHERE c.cohort_day IS NOT NULL AND d.day >= c.cohort_day)
SELECT cohort_day, CAST(day_offset AS INT) AS day_offset, count(*) AS n_users
FROM a GROUP BY 1, 2"""

  /** PII detection/redaction end-to-end gate. The driver tables are
    * PII-free by construction, so the query runs over the deterministic
    * PiiGen corpus (dumped once as a parquet side table, same policy as the
    * multimodal generators) and the oracle re-runs the IDENTICAL pattern
    * strings in DuckDB — Java regex vs RE2 must agree on every match
    * boundary and every replacement for the hash to survive.
    */
  val piiN = 400L
  val piiSeed = 17L
  val piiDocsPath = s"/tmp/graft_pii_docs_n${piiN}_s${piiSeed}_v1"

  def taPii(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.gen.PiiGen.generate(spark, piiN, seed = piiSeed).toDF()
    ensureSideTable(piiDocsPath)(docs)
    TextAnalysis.piiScan(docs, "text")
  }

  private val taPiiSql = {
    val e = TextAnalysis.emailRe
    val p = TextAnalysis.phoneRe
    val ip = TextAnalysis.ipRe
    s"""SELECT doc_id,
  CAST(len(regexp_extract_all(text, '$e')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(text, '$p')) AS BIGINT) AS n_phones,
  CAST(len(regexp_extract_all(text, '$ip')) AS BIGINT) AS n_ips,
  regexp_replace(regexp_replace(regexp_replace(text,
    '$e', '<EMAIL>', 'g'), '$p', '<PHONE>', 'g'), '$ip', '<IP>', 'g') AS redacted,
  (len(regexp_extract_all(text, '$e')) + len(regexp_extract_all(text, '$p'))
    + len(regexp_extract_all(text, '$ip'))) > 0 AS has_pii
FROM read_parquet('$piiDocsPath/*.parquet')"""
  }

  /** URL-level dedup end-to-end gate over the deterministic UrlGen table
    * (planted variant groups: case noise, www., tracking params, fragments,
    * trailing slashes — and canonically-distinct decoys). The oracle
    * re-canonicalizes from scratch in SQL, so every normalization step must
    * agree bytewise across both engines.
    */
  val urlN = 400L
  val urlSeed = 23L
  val urlDocsPath = s"/tmp/graft_url_docs_n${urlN}_s${urlSeed}_v2"

  def ddUrl(spark: SparkSession, dir: String): DataFrame = {
    val urls = graft.gen.UrlGen.generate(spark, urlN, seed = urlSeed).toDF()
      .select(col("url_id"), col("url"))
    ensureSideTable(urlDocsPath)(urls)
    graft.ops.Urls.dedup(urls, "url", "url_id")
  }

  private val ddUrlSql =
    s"""WITH u AS (
  SELECT url_id, regexp_replace(url, '#.*', '') AS nf
  FROM read_parquet('$urlDocsPath/*.parquet')),
p AS (
  SELECT url_id,
    CASE WHEN strpos(nf, '?') > 0 THEN substr(nf, 1, strpos(nf, '?') - 1) ELSE nf END AS pre,
    CASE WHEN strpos(nf, '?') > 0 THEN substr(nf, strpos(nf, '?') + 1) ELSE '' END AS q
  FROM u),
c AS (
  SELECT url_id,
    lower(split_part(pre, '://', 1)) || '://' ||
    regexp_replace(lower(split_part(split_part(pre, '://', 2), '/', 1)), '^www\\.', '') ||
    regexp_replace(substr(split_part(pre, '://', 2),
      length(split_part(split_part(pre, '://', 2), '/', 1)) + 1), '/$$', '') ||
    CASE WHEN qq = '' THEN '' ELSE '?' || qq END AS canonical_url
  FROM (
    SELECT url_id, pre,
      array_to_string(list_sort(list_filter(string_split(q, '&'),
        x -> NOT (starts_with(x, 'utm_') OR starts_with(x, 'sessionid=') OR x = ''))), '&') AS qq
    FROM p))
SELECT canonical_url, count(*) AS n_urls, min(url_id) AS rep_id
FROM c GROUP BY 1"""

  /** Corpus-derived OOV scoring: per-language top-`oovVocabK` vocabulary,
    * then per-document out-of-vocabulary token fraction (broadcast dict,
    * map-side scoring).
    */
  val oovVocabK = 20

  def taOov(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.oovScore(table(spark, dir, "documents"), "text", vocabK = oovVocabK)

  private val taOovSql =
    s"""WITH n0 AS (
  SELECT doc_id, lang, ${Signatures.normalizeSql("text")} AS norm FROM documents),
t AS (
  SELECT doc_id, lang, unnest(string_split(norm, ' ')) AS token
  FROM n0 WHERE length(norm) > 0),
c AS (SELECT lang, token, count(*) AS n FROM t GROUP BY 1, 2),
v AS (
  SELECT lang, token, 1 AS inv FROM (
    SELECT lang, token,
      row_number() OVER (PARTITION BY lang ORDER BY n DESC, token) AS rnk
    FROM c) WHERE rnk <= $oovVocabK)
SELECT t.doc_id, t.lang, count(*) AS n_tokens,
  CAST(sum(CASE WHEN v.inv IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
  CAST(sum(CASE WHEN v.inv IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS oov_frac
FROM t LEFT JOIN v ON v.lang = t.lang AND v.token = t.token
GROUP BY 1, 2"""

  /** Eval-set decontamination over hashed word 5-grams; the deterministic
    * "benchmark" slice is doc_id % 50 = 0 (the 2% eval side broadcasts).
    */
  val decontamN = 5
  val decontamEvalMod = 50

  def ddDecontam(spark: SparkSession, dir: String): DataFrame =
    // rides the shared memoized normalization stage (docNorm)
    TextAnalysis.decontaminateNorm(Queries.docNorm(spark, dir), "norm",
      col("doc_id") % decontamEvalMod === 0, decontamN)

  private val ddDecontamSql =
    s"""WITH ${OracleGen.nrmCte},
${OracleGen.wordNgramCtes(decontamN)},
g AS (SELECT doc_id, ${Signatures.hash60Sql("sh")} AS g FROM sh),
ev AS (SELECT DISTINCT g FROM g WHERE doc_id % $decontamEvalMod = 0),
tr AS (
  SELECT t.doc_id, count(*) AS n_grams,
    CAST(sum(CASE WHEN e.g IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_contaminated
  FROM g t LEFT JOIN ev e ON e.g = t.g
  WHERE t.doc_id % $decontamEvalMod <> 0
  GROUP BY 1)
SELECT doc_id, n_grams, n_contaminated, n_contaminated > 0 AS contaminated FROM tr"""

  /** Cross-doc duplicated-span fractions over word 5-grams (Lee et al.
    * 2022 shape; TextAnalysis.dupSpans). Per-doc distinct hashed grams ->
    * document frequency -> per-doc duplicated fraction.
    */
  val dupspanN = 5

  def ddDupspan(spark: SparkSession, dir: String): DataFrame = {
    // ride the memoized + repartitioned docNorm base (the raw documents
    // parquet scans into ~3 partitions, so the explode+hash stage — the
    // heaviest per-row work in this query — otherwise runs 3-way on a
    // 32-core session), and memoize the gram stage: it feeds BOTH the df
    // aggregate and the join probe
    val grams = QueryCache.memo(spark, "dupspan_grams", dir) {
      Queries.docNorm(spark, dir)
        .select(col("doc_id"),
          explode(Signatures.wordNgramsCol(col("norm"), dupspanN)).as("gram"))
        .select(col("doc_id"), Signatures.hash60Col(col("gram")).as("g"))
    }
    TextAnalysis.dupSpansFromGrams(grams)
  }

  private val ddDupspanSql =
    s"""WITH ${OracleGen.nrmCte},
${OracleGen.wordNgramCtes(dupspanN)},
g AS (SELECT doc_id, ${Signatures.hash60Sql("sh")} AS g FROM sh),
df AS (SELECT g, count(*) AS df FROM g GROUP BY 1)
SELECT t.doc_id, count(*) AS n_grams,
  CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
  CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_frac
FROM g t JOIN df d ON d.g = t.g
GROUP BY 1"""

  /** Fixed paragraph width (words) for the global duplicate-paragraph pass
    * (the testdata documents carry no newline structure — see
    * TextAnalysis.paragraphDedup).
    */
  val paraW = 5

  def ddParagraph(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.paragraphDedup(table(spark, dir, "documents"), "text", paraW)

  private val ddParagraphSql =
    s"""WITH ${OracleGen.nrmCte},
toks AS (SELECT doc_id, string_split(norm, ' ') AS ws FROM nrm WHERE length(norm) > 0),
ix AS (
  SELECT doc_id, ws, unnest(generate_series(0, (len(ws) - 1) // $paraW)) AS idx
  FROM toks),
ch AS (
  SELECT doc_id, idx,
    array_to_string(ws[idx*$paraW+1 : idx*$paraW+$paraW], ' ') AS chunk
  FROM ix),
rk AS (
  SELECT doc_id, idx, chunk,
    row_number() OVER (PARTITION BY ${Signatures.hash60Sql("chunk")}
                       ORDER BY doc_id, idx) AS r
  FROM ch),
tot AS (
  SELECT doc_id, count(*) AS n_paras,
    CAST(sum(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
  FROM rk GROUP BY 1),
kt AS (
  SELECT doc_id, string_agg(chunk, ' ' ORDER BY idx) AS kept
  FROM rk WHERE r = 1 GROUP BY 1)
SELECT t.doc_id, t.n_paras, t.n_kept,
  CAST(t.n_kept AS DOUBLE) / t.n_paras AS kept_frac,
  ${Signatures.hash60Sql("coalesce(k.kept, '')")} AS kept_hash
FROM tot t LEFT JOIN kt k ON k.doc_id = t.doc_id"""

  /** Model size (global top-k bigrams) for the corpus-LM quality score. */
  val lmK = 64

  def taNgramLm(spark: SparkSession, dir: String): DataFrame = {
    // memoize the bigram stream: it feeds both the model count aggregate
    // and the scoring probe (same sharing argument as dd_dupspan's grams)
    val grams = QueryCache.memo(spark, "lm_bigrams", dir) {
      TextAnalysis.docBigrams(
        Queries.docNorm(spark, dir).withColumnRenamed("norm", "text"), "text")
    }
    TextAnalysis.ngramLmScoreFromGrams(grams, TextAnalysis.lmTopK(grams, lmK))
  }

  private val taNgramLmSql =
    s"""WITH ${OracleGen.nrmCte},
toks AS (SELECT doc_id, string_split(norm, ' ') AS ws FROM nrm WHERE length(norm) > 0),
gi AS (
  SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
  FROM toks WHERE len(ws) >= 2),
g AS (SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS gram FROM gi),
c AS (SELECT gram, count(*) AS n FROM g GROUP BY 1),
v AS (
  SELECT gram, n FROM (
    SELECT gram, n, row_number() OVER (ORDER BY n DESC, gram) AS rnk FROM c)
  WHERE rnk <= $lmK)
SELECT g.doc_id, count(*) AS n_bigrams,
  CAST(sum(CASE WHEN v.gram IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_known,
  CAST(sum(coalesce(v.n, 0)) AS BIGINT) AS freq_sum,
  CAST(sum(coalesce(v.n, 0)) AS DOUBLE) / count(*) AS mean_freq
FROM g LEFT JOIN v ON v.gram = g.gram
GROUP BY 1"""

  /** Shard count for the deterministic global corpus shuffle. */
  val shuffleShards = 8

  /** Token-count tier width of the length curriculum. */
  val curriculumTierW = 16

  /** Length-tier training curriculum ([[graft.ops.Sampling.curriculum]]):
    * tiers ascending, seeded shuffle within tier, deterministic
    * global_pos. n_tokens uses ta_tokens' whitespace formula so the
    * oracle's regexp split counts identically.
    */
  def dsCurriculum(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.curriculum(
      table(spark, dir, "documents"), "text", curriculumTierW)

  private val dsCurriculumSql =
    s"""WITH t AS (
  SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
  FROM documents),
b AS (
  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
    CAST(n_tokens // $curriculumTierW AS INT) AS tier,
    ${Signatures.hash60Sql("'cur:' || CAST(doc_id AS VARCHAR)")} AS ord
  FROM t),
r AS (
  SELECT doc_id, n_tokens, tier, ord,
    row_number() OVER (PARTITION BY tier ORDER BY ord, doc_id) - 1 AS pos
  FROM b),
o AS (
  SELECT tier,
    sum(count(*)) OVER (ORDER BY tier) - count(*) AS toff
  FROM b GROUP BY tier)
SELECT r.doc_id, r.n_tokens, r.tier, CAST(r.pos AS BIGINT) AS pos,
  CAST(o.toff + r.pos AS BIGINT) AS global_pos
FROM r JOIN o USING (tier)"""

  def dsShuffle(spark: SparkSession, dir: String): DataFrame =
    Sampling.globalShuffle(
      table(spark, dir, "documents").select(col("doc_id")),
      col("doc_id"), shuffleShards)
      .select(col("doc_id"), col("shard"), col("pos"))

  private val dsShuffleSql =
    s"""WITH b AS (
  SELECT doc_id,
    ${Signatures.hash60Sql("'shuf:' || CAST(doc_id AS VARCHAR)")} AS ord
  FROM documents)
SELECT doc_id, CAST(ord % $shuffleShards AS INT) AS shard,
  CAST(row_number() OVER (PARTITION BY ord % $shuffleShards
                          ORDER BY ord, doc_id) - 1 AS BIGINT) AS pos
FROM b"""

  // ---------------------------------------------- flagship pipeline oracle

  /** The flagship itself, `app.Pipeline.run` (features -> multi-pass
    * blocking -> rule cascade verify -> transitive closure -> fusion), over
    * the deterministic ImageGen corpus, hash-gated against the BRUTE-FORCE
    * oracle: `gen.PipeOracle` applies the verify cascade to every pair (no
    * blocking, no LSH, no distributed machinery) and union-finds the
    * closure on the driver; the side table stores that
    * expected assignment plus generator caption/fmt, and the DuckDB oracle
    * derives the expected canonical per cluster (min-id cluster id, member
    * count, fused caption = longest -> most-frequent -> first-by-id, fused
    * fmt = most-frequent -> first-by-id, mirroring the Merge DSL). The row
    * hash matches only if multi-pass blocking misses NO decisive pair, the
    * codegen cascade scores identically, distributed CC reproduces the
    * union-find partition, and fusion's resolution order is right — the
    * distributed analog of the reference's own e2e equality check
    * (`examples/src/test/java/.../PersonDeduplicationTest.java:69-86`).
    *
    * Raw planted gold is NOT the truth: ~5% of planted edits are
    * legitimately unrecoverable (below every similarity threshold), so
    * ground truth is the cascade's own all-pairs closure, as in
    * PipelineSpec. Refine is not part of `Pipeline.run`: its output has no
    * ground truth independent of its own algorithm, so the explicit
    * `Pipeline.refine` stage is gated by the separate `refine_clusters`
    * oracle plus the reference-fixture unit tests and PipelineSpec's
    * split-only invariants.
    */
  val pipeN = 1000L
  val pipeSeed = 42L
  val pipeTruthPath = s"/tmp/graft_pipe_truth_n${pipeN}_s${pipeSeed}_v2"

  private def ensurePipeTruth(): Unit =
    ensureSideTable(pipeTruthPath) {
      val recs = (0L until pipeN).map(i => graft.gen.ImageGen.record(pipeSeed, i, pipeN))
      val exp = graft.gen.PipeOracle.assign(recs, graft.model.DedupConfig())
      val spark = org.apache.spark.sql.SparkSession.active
      import spark.implicits._
      recs.map(r => (r.image_id, exp(r.image_id), r.caption, r.fmt))
        .toDF("image_id", "exp_cluster", "caption", "fmt")
    }

  def pipelineCanonical(spark: SparkSession, dir: String): DataFrame = {
    val gen = graft.gen.ImageGen.generate(spark, pipeN, seed = pipeSeed, partitions = 8)
    ensurePipeTruth()
    val images = graft.gen.ImageGen.asImages(gen)
    graft.app.Pipeline.run(spark, images, graft.model.DedupConfig())._2
      .select(col("cluster_id"), col("n_members"), col("image_id"),
        col("caption"), col("fmt"))
  }

  private val pipelineCanonicalSql =
    s"""WITH g AS (
  SELECT image_id, exp_cluster, caption, fmt
  FROM read_parquet('$pipeTruthPath/*.parquet')),
cl AS (
  SELECT exp_cluster, min(image_id) AS cluster_id,
         CAST(count(*) AS BIGINT) AS n_members
  FROM g GROUP BY 1),
capc AS (
  SELECT exp_cluster, caption, count(*) AS cnt, min(image_id) AS first_id
  FROM g GROUP BY 1, 2),
capr AS (
  SELECT exp_cluster, caption,
    row_number() OVER (PARTITION BY exp_cluster
      ORDER BY length(caption) DESC, cnt DESC, first_id ASC) AS rn
  FROM capc),
fmtc AS (
  SELECT exp_cluster, fmt, count(*) AS cnt, min(image_id) AS first_id
  FROM g GROUP BY 1, 2),
fmtr AS (
  SELECT exp_cluster, fmt,
    row_number() OVER (PARTITION BY exp_cluster
      ORDER BY cnt DESC, first_id ASC) AS rn
  FROM fmtc)
SELECT cl.cluster_id, cl.n_members, cl.cluster_id AS image_id,
       c.caption, f.fmt
FROM cl
JOIN capr c ON c.exp_cluster = cl.exp_cluster AND c.rn = 1
JOIN fmtr f ON f.exp_cluster = cl.exp_cluster AND f.rn = 1"""

  // ------------------------------------------------------------ registry

  // lazy: Queries.all references this map while this object's init
  // references Queries.* constants — eager vals on both sides make the
  // catalog null when ExtQueries happens to initialize first (any direct
  // library user touching ExtQueries before SparkEntry/Queries)
  lazy val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_topk" -> (annTopK _),
    "ann_sq" -> (annSq _),
    "ann_lsh" -> (annLsh _),
    // PRIMARY ann_ivf / ann_pq rows are the TRAINED quantizers (what
    // production runs); the deterministic data-independent codebooks stay
    // cataloged as *_fixed anchors
    "ann_ivf" -> (annIvfTrained _),
    "ann_pq" -> (annPqTrained _),
    "ann_ivfpq" -> (annIvfPq _),
    "ann_ivf_fixed" -> (annIvf _),
    "ann_pq_fixed" -> (annPq _),
    "emb_pairs" -> (embPairs _),
    "dd_semantic" -> (ddSemantic _),
    "emb_dbscan" -> (embDbscan _),
    "dd_semantic_keep" -> (ddSemanticKeep _),
    "ta_langid" -> (taLangid _),
    "ta_quality" -> (taQuality _),
    "ta_repetition" -> (taRepetition _),
    "ta_vocab" -> (taVocab _),
    "ta_fingerprint" -> (taFingerprint _),
    "ds_sample" -> (dsSample _),
    "ds_split" -> (dsSplit _),
    "ev_props" -> (evProps _),
    "ev_asof" -> (evAsof _),
    "ev_funnel" -> (evFunnel _),
    "ev_retention" -> (evRetention _),
    "ta_oov" -> (taOov _),
    "ta_pii" -> (taPii _),
    "dd_decontam" -> (ddDecontam _),
    "dd_dupspan" -> (ddDupspan _),
    "dd_paragraph" -> (ddParagraph _),
    "ta_ngram_lm" -> (taNgramLm _),
    "ds_shuffle" -> (dsShuffle _),
    "ds_curriculum" -> (dsCurriculum _),
    "dd_url" -> (ddUrl _),
    "ds_pack" -> (dsPack _),
    "ev_windows" -> (evWindows _),
    "ds_interleave" -> (dsInterleave _),
    "ds_balance" -> (dsBalance _),
    "ev_transitions" -> (evTransitions _),
    "sim_collection" -> (simCollection _),
    "classify_rules" -> (classifyRules _),
    "fuse_canonical" -> (fuseCanonical _),
    "sim_measures" -> (simMeasures _),
    "sim_temporal" -> (simTemporal _),
    "snm_multipass" -> (snmMultipass _),
    "ev_hourly" -> (evHourly _),
    "ev_approx_users" -> (evApproxUsers _),
    "ev_heavy_hitters" -> (evHeavyHitters _),
    "ev_topk_paths" -> (evTopkPaths _),
    "ev_sessionize" -> (evSessionize _),
    "refine_clusters" -> (refineClusters _),
    "dedup_lastwins" -> (dedupLastwins _),
    "mm_stats" -> (mmStats _),
    "mm_phash_pairs" -> (mmPhashPairs _),
    "mm_dhash_pairs" -> (mmDhashPairs _),
    "mm_tile_pairs" -> (mmTilePairs _),
    "mm_exact" -> (mmExact _),
    "mm_dedup_clusters" -> (mmDedupClusters _),
    "mm_keeplist" -> (mmKeeplist _),
    "mm_filter" -> (mmFilter _),
    "mm_caption_mismatch" -> (mmCaptionMismatch _),
    "mm_frame_sample" -> (mmFrameSample _),
    "mm_video_dupes" -> (mmVideoDupes _),
    "mm_audio_features" -> (mmAudioFeatures _),
    "mm_audio_dupes" -> (mmAudioDupes _),
    "pipeline_canonical" -> (pipelineCanonical _))

  /** Oracle SQL for the rows above over the tables at `dir` (the trained
    * ANN rows read that dir's side tables).
    */
  def oracles(dir: String): Map[String, String] = staticOracles ++ Map(
    "ann_ivf" -> annIvfTrainedSql(dir),
    "ann_pq" -> annPqTrainedSql(dir))

  private lazy val staticOracles: Map[String, String] = Map(
    "ann_topk" -> annTopKSql,
    "ann_sq" -> annSqSql,
    "ann_lsh" -> annLshSql,
    "ann_ivfpq" -> annIvfPqSql,
    "ann_ivf_fixed" -> annIvfSql,
    "ann_pq_fixed" -> annPqSql,
    "emb_pairs" -> embPairsSql,
    "dd_semantic" -> ddSemanticSql,
    "emb_dbscan" -> embDbscanSql,
    "dd_semantic_keep" -> ddSemanticKeepSql,
    "ta_langid" -> taLangidSql,
    "ta_quality" -> taQualitySql,
    "ta_repetition" -> taRepetitionSql,
    "ta_vocab" -> taVocabSql,
    "ta_fingerprint" -> taFingerprintSql,
    "ds_sample" -> dsSampleSql,
    "ds_split" -> dsSplitSql,
    "ev_props" -> evPropsSql,
    "ev_asof" -> evAsofSql,
    "ev_funnel" -> evFunnelSql,
    "ev_retention" -> evRetentionSql,
    "ta_oov" -> taOovSql,
    "ta_pii" -> taPiiSql,
    "dd_decontam" -> ddDecontamSql,
    "dd_dupspan" -> ddDupspanSql,
    "dd_paragraph" -> ddParagraphSql,
    "ta_ngram_lm" -> taNgramLmSql,
    "ds_shuffle" -> dsShuffleSql,
    "ds_curriculum" -> dsCurriculumSql,
    "dd_url" -> ddUrlSql,
    "ds_pack" -> dsPackSql,
    "ev_windows" -> evWindowsSql,
    "ds_interleave" -> dsInterleaveSql,
    "ds_balance" -> dsBalanceSql,
    "ev_transitions" -> evTransitionsSql,
    "sim_collection" -> simCollectionSql,
    "classify_rules" -> classifyRulesSql,
    "fuse_canonical" -> fuseCanonicalSql,
    "sim_measures" -> simMeasuresSql,
    "sim_temporal" -> simTemporalSql,
    "snm_multipass" -> snmMultipassSql,
    "ev_hourly" -> evHourlySql,
    "ev_approx_users" -> evApproxUsersSql,
    "ev_heavy_hitters" -> evHeavyHittersSql,
    "ev_topk_paths" -> evTopkPathsSql,
    "ev_sessionize" -> evSessionizeSql,
    "mm_stats" -> mmStatsSql,
    "mm_phash_pairs" -> mmPhashPairsSql,
    "mm_dhash_pairs" -> mmDhashPairsSql,
    "mm_tile_pairs" -> mmTilePairsSql,
    "mm_exact" -> mmExactSql,
    "mm_dedup_clusters" -> mmDedupClustersSql,
    "mm_keeplist" -> mmKeeplistSql,
    "mm_filter" -> mmFilterSql,
    "mm_caption_mismatch" -> mmCaptionMismatchSql,
    "mm_frame_sample" -> mmFrameSampleSql,
    "mm_video_dupes" -> mmVideoDupesSql,
    "mm_audio_features" -> mmAudioFeaturesSql,
    "mm_audio_dupes" -> mmAudioDupesSql,
    "pipeline_canonical" -> pipelineCanonicalSql,
    "refine_clusters" -> (s"""WITH RECURSIVE ${OracleGen.nrmCte},
${OracleGen.wordNgramCtes(Queries.ngramN)},
${OracleGen.invertedIndexCandsCte},
${OracleGen.jaccardPairsCte(Queries.ngramJaccardT)},
${OracleGen.ccSql}"""),
    "dedup_lastwins" -> dedupLastwinsSql)
}
