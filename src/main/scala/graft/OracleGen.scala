package graft

import graft.model.DedupConfig
import graft.sig.Signatures

/** Generates DuckDB oracle SQL that mirrors the engine's signature math
  * byte-for-byte: the shared 60-bit md5 hash, affine MinHash permutations
  * mod 2^31-1, SimHash bit sums, and band keys are all pure integer
  * arithmetic, so the oracle reproduces the Spark results exactly — the
  * LSH/banding stages themselves are mirrored, not just the final verify.
  */
object OracleGen {

  private val P = Signatures.P

  /** DOUBLE-typed SQL literal. A plain 17-significant-digit decimal like
    * `4.9012345678901234` parses in DuckDB as DECIMAL(17,16), whose
    * int64-scaled representation double-rounds on the cast back to DOUBLE
    * (10^16 > 2^53) — one ulp off the Scala double, which breaks any hash
    * gate that EXPOSES the value (measured: dd_semantic_keep q_score).
    * Exponent notation forces the DOUBLE parse path, which round-trips
    * shortest-repr exactly.
    */
  def dlit(x: Double): String = {
    val s = java.lang.Double.toString(x)
    if (s.indexOf('E') >= 0 || s.indexOf('e') >= 0) s else s + "e0"
  }

  /** Embeddings source with the degenerate-row guard (mirror of
    * ExtQueries.embBase): zero-norm, NaN and infinite vectors are dropped
    * before any distance math — substitute for a bare `embeddings` in
    * every embedding-reading oracle.
    */
  def embSrc: String =
    "(SELECT * FROM embeddings " +
      "WHERE isfinite(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) " +
      "AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0)"

  /** CTE: (doc_id, norm) — normalized document text. */
  def nrmCte: String =
    s"nrm AS (SELECT doc_id, ${Signatures.normalizeSql("text")} AS norm FROM documents)"

  /** CTE: (doc_id, sh) — distinct char k-shingles; strings shorter than k
    * contribute the whole string (mirror of Signatures.shingles). NULL
    * text is exempt (no content): an unguarded NULL norm would thread a
    * NULL shingle through minhash into NULL band keys, which GROUP BYs
    * downstream would count as a phantom bucket.
    */
  def charShingleCtes(k: Int): String =
    s"""idx AS (
  SELECT doc_id, norm, unnest(generate_series(1, greatest(length(norm) - ${k - 1}, 1))) AS i
  FROM nrm WHERE norm IS NOT NULL),
sh AS (
  SELECT DISTINCT doc_id,
    CASE WHEN length(norm) >= $k THEN substr(norm, i, $k) ELSE norm END AS sh
  FROM idx)"""

  /** CTE: (doc_id, sh) — distinct word n-gram shingles (mirror of
    * Signatures.wordNgrams; docs with fewer than n words contribute the
    * whole token sequence, empty docs contribute nothing).
    */
  def wordNgramCtes(n: Int): String =
    s"""toks AS (
  SELECT doc_id, string_split(norm, ' ') AS ws FROM nrm WHERE length(norm) > 0),
idx AS (
  SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws) - ${n - 1}, 1))) AS i
  FROM toks),
sh AS (
  SELECT DISTINCT doc_id,
    CASE WHEN len(ws) >= $n THEN array_to_string(ws[i:i+${n - 1}], ' ')
         ELSE array_to_string(ws, ' ') END AS sh
  FROM idx)"""

  /** CTEs computing Jaccard over CTEs `sh` (shingles) and a candidate-pair
    * CTE named `cands(id1, id2)`: exact |∩|/|∪| with IEEE double division.
    * Produces CTE `pairs(id1, id2, jaccard)`.
    */
  def jaccardPairsCte(threshold: Double): String =
    s"""cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT c.id1, c.id2, count(*) AS c
  FROM cands c
  JOIN sh s1 ON s1.doc_id = c.id1
  JOIN sh s2 ON s2.doc_id = c.id2 AND s2.sh = s1.sh
  GROUP BY 1, 2),
pairs AS (
  SELECT i.id1, i.id2,
    CAST(i.c AS DOUBLE) / (c1.n + c2.n - i.c) AS jaccard
  FROM inter i
  JOIN cnt c1 ON c1.doc_id = i.id1
  JOIN cnt c2 ON c2.doc_id = i.id2
  WHERE CAST(i.c AS DOUBLE) / (c1.n + c2.n - i.c) >= $threshold)"""

  def jaccardVerifySql(threshold: Double): String =
    jaccardPairsCte(threshold) + "\nSELECT id1, id2, jaccard FROM pairs"

  /** All-shingle inverted-index candidate pairs, bucket-capped exactly like
    * `Blocking.pairsFromKeys(_, Some(cap))`: a shingle shared by more than
    * `cap` documents generates no pairs (skew guard, mirrored).
    */
  def invertedIndexCandsCte: String =
    s"""keyok AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) BETWEEN 2 AND ${Queries.bucketCap}),
cands AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM keyok k JOIN sh a ON a.sh = k.sh JOIN sh b ON b.sh = k.sh AND a.doc_id < b.doc_id)"""

  /** MinHash + LSH candidate CTEs mirroring Signatures.minHash/bandKeys:
    * perms VALUES table, per-(doc, perm) min, band keys as
    * 'band:v1,v2,...,vr' strings, band-equality pairing.
    */
  /** MinHash band-index CTEs only (perms, mv, bk) — bk(doc_id, key) is the
    * band-key index shared by the all-pairs path (minHashCandsCtes), the
    * skew-histogram oracle, and the incremental batch-vs-corpus oracle.
    */
  def minHashBandCtes(cfg: DedupConfig): String = {
    val a = Signatures.seedsA(cfg.numHashes, cfg.seed)
    val b = Signatures.seedsB(cfg.numHashes, cfg.seed)
    val permRows = (0 until cfg.numHashes)
      .map(i => s"(${i}, ${a(i)}, ${b(i)})").mkString(", ")
    s"""perms(i, a, b) AS (SELECT * FROM (VALUES $permRows)),
mv AS (
  SELECT s.doc_id, p.i,
    min((p.a * (${Signatures.hash60Sql("s.sh")} % $P) + p.b) % $P) AS mv
  FROM sh s CROSS JOIN perms p
  GROUP BY 1, 2),
bk AS (
  SELECT doc_id,
    (i // ${cfg.rowsPerBand}) || ':' || string_agg(mv::VARCHAR, ',' ORDER BY i) AS key
  FROM mv
  GROUP BY doc_id, i // ${cfg.rowsPerBand})"""
  }

  def minHashCandsCtes(cfg: DedupConfig): String =
    s"""${minHashBandCtes(cfg)},
bkok AS (SELECT key FROM bk GROUP BY key HAVING count(*) BETWEEN 2 AND ${Queries.bucketCap}),
cands AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM bkok k JOIN bk a ON a.key = k.key JOIN bk b ON b.key = k.key AND a.doc_id < b.doc_id)"""

  /** SimHash CTE mirroring Signatures.simHash over word tokens (with
    * multiplicity): yields sim(doc_id, sh BIGINT). Docs with no tokens get
    * simhash 0; NULL-text docs are exempt entirely (no content — matching
    * the engine's null-dropping signature column).
    */
  def simHashCtes(bits: Int): String =
    s"""toksm AS (
  SELECT doc_id, unnest(string_split(norm, ' ')) AS tok
  FROM nrm WHERE length(norm) > 0),
bitsum AS (
  SELECT doc_id, g.b,
    sum(CASE WHEN (${Signatures.hash60Sql("tok")} >> g.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM toksm CROSS JOIN generate_series(0, ${bits - 1}) AS g(b)
  GROUP BY 1, 2),
simnz AS (
  SELECT doc_id,
    CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS sh
  FROM bitsum GROUP BY 1),
sim AS (
  SELECT n.doc_id, coalesce(z.sh, 0::BIGINT) AS sh
  FROM nrm n LEFT JOIN simnz z ON z.doc_id = n.doc_id
  WHERE n.norm IS NOT NULL)"""

  /** Bit-block pairing over CTE sim(doc_id, sh): blocks of `per` bits. */
  def bitBlockCandsCte(blocks: Int, totalBits: Int): String = {
    val per = totalBits / blocks
    s"""bkeys AS (
  SELECT doc_id, g.i || ':' || ((sh >> (g.i * $per)) & ${(1L << per) - 1}) AS key
  FROM sim CROSS JOIN generate_series(0, ${blocks - 1}) AS g(i)),
bkok AS (SELECT key FROM bkeys GROUP BY key HAVING count(*) BETWEEN 2 AND ${Queries.bucketCap}),
cands AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM bkok k JOIN bkeys a ON a.key = k.key JOIN bkeys b ON b.key = k.key AND a.doc_id < b.doc_id)"""
  }

  /** Multi-probe SRP-LSH top-k CTEs mirroring Embeddings.lshTopKMultiProbe
    * exactly: literal ±1 hyperplanes, per-(vector, bit) projections, base
    * band keys (sign bits, local bit p of band i = global bit i·per+p),
    * index bucket cap over the FULL corpus bucketing, query-side probe
    * expansion by flipping the `probes` least-|projection| bits per band
    * (ties to the lower bit index), candidate dedup BEFORE the exact-cosine
    * verify, then the per-query top-k window. All arithmetic is the same
    * sequential `list_dot_product` fold / integer banding as the engine.
    */
  def srpMultiProbeCtes(dim: Int, bits: Int, bands: Int, probes: Int,
                        seed: Long, cap: Int, queryMod: Int, k: Int): String = {
    val per = bits / bands
    val projList = (0 until bits).map { b =>
      val plane = (0 until dim).map(d =>
        if ((Signatures.hash60(s"srp:$seed:$b:$d") & 1L) == 1L) "1.0" else "-1.0").mkString(", ")
      s"list_dot_product(v, [$plane])"
    }.mkString(",\n    ")
    val cos = "list_dot_product(x.v, y.v) / " +
      "(sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v)))"
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM ${OracleGen.embSrc}),
sp AS (SELECT vec_id, [$projList] AS ps FROM e),
pr AS (
  SELECT vec_id, unnest(ps) AS s, unnest(generate_series(0, ${bits - 1})) AS b
  FROM sp),
bk AS (
  SELECT vec_id, b // $per AS band,
    CAST(sum(CASE WHEN s > 0 THEN 1::BIGINT << (b % $per) ELSE 0 END) AS BIGINT) AS base
  FROM pr GROUP BY 1, 2),
ikok AS (SELECT band, base FROM bk GROUP BY 1, 2 HAVING count(*) <= $cap),
flips AS (
  SELECT vec_id, b // $per AS band, b % $per AS p,
    row_number() OVER (PARTITION BY vec_id, b // $per ORDER BY abs(s), b % $per) AS rk
  FROM pr),
qk AS (
  SELECT vec_id, band, base AS bkey FROM bk WHERE vec_id % $queryMod = 0
  UNION ALL
  SELECT f.vec_id, f.band, xor(q.base, 1::BIGINT << f.p) AS bkey
  FROM flips f JOIN bk q ON q.vec_id = f.vec_id AND q.band = f.band
  WHERE f.rk <= $probes AND f.vec_id % $queryMod = 0),
cands AS (
  SELECT DISTINCT qk.vec_id AS query_id, i.vec_id AS neighbor_id
  FROM qk
  JOIN bk i ON i.band = qk.band AND i.base = qk.bkey AND i.vec_id <> qk.vec_id
  JOIN ikok ok ON ok.band = i.band AND ok.base = i.base),
s AS (
  SELECT c.query_id, c.neighbor_id, $cos AS cosine
  FROM cands c JOIN e x ON x.vec_id = c.query_id JOIN e y ON y.vec_id = c.neighbor_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM s)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine FROM r WHERE rank <= $k"""
  }

  /** IVF cell-assignment CTEs mirroring Embeddings.ivfTopK: the centroids
    * are deterministic hash60-derived literals; cell score
    * s_c = list_dot_product(v, C_c) − ||C_c||²/2 reproduces the Spark UDF's
    * sequential fold bit-for-bit (double literals printed in shortest
    * round-trip form). Produces CTEs e(vec_id, v), cells(neighbor cell
    * assignment) and a ranked cell list rc for probe selection.
    */
  def ivfCtes(numCells: Int, dim: Int, seed: Long): String = {
    val cents = graft.ops.Embeddings.ivfCentroids(numCells, dim, seed)
    val halfNorms = cents.map(c => c.map(x => x * x).sum / 2)
    val scoreList = cents.indices.map { c =>
      val lits = cents(c).map(dlit).mkString(", ")
      s"list_dot_product(v, [$lits]) - ${dlit(halfNorms(c))}"
    }.mkString(",\n    ")
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM ${OracleGen.embSrc}),
sc AS (SELECT vec_id, v, [$scoreList] AS ss FROM e),
rc AS (
  SELECT vec_id, v, c,
    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c) AS crank
  FROM (SELECT vec_id, v, unnest(ss) AS s, unnest(generate_series(1, ${cents.length})) AS c
        FROM sc)),
cells AS (SELECT vec_id AS neighbor_id, v AS nv, c AS cell FROM rc WHERE crank = 1)"""
  }

  /** PQ-ADC + exact-rerank CTEs mirroring Embeddings.pqRerankTopK: the
    * codebook is emitted as a nested DOUBLE list literal (shortest
    * round-trip form); normalization, per-subspace squared distances
    * (`list_dot_product(diff, diff)`), the first-min code pick
    * (`list_position(d, list_min(d))`), and the ADC sum (dot with a ones
    * list = the same sequential fold as Spark's `aggregate`) are all
    * fold-order-exact. Produces CTEs through `short(query_id,
    * neighbor_id)` plus `e(vec_id, v)` for the exact re-rank.
    */
  private def cbLiteralSql(cb: Array[Array[Array[Double]]]): String =
    cb.map(_.map(_.map(dlit)
        .mkString("[", ", ", "]")).mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")

  private def pqDiffSql(cb: Array[Array[Array[Double]]])(vec: String, cent: String) =
    s"list_transform(generate_series(1, ${cb(0)(0).length}), i -> " +
      s"$vec[j*${cb(0)(0).length} + i] - $cent[i])"

  /** CTEs `nrm`, `dl`, `codes` computing normalized vectors and PQ codes;
    * assumes a CTE `e(vec_id, v DOUBLE[])` is already defined.
    */
  private def pqCodesCtes(cb: Array[Array[Array[Double]]]): String = {
    val diff = pqDiffSql(cb) _
    val d2corpus = s"list_dot_product(${diff("nv", "cent")}, ${diff("nv", "cent")})"
    s"""nrm AS (
  SELECT vec_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
  FROM e),
dl AS (
  SELECT vec_id,
    list_transform(generate_series(0, ${cb.length - 1}), j ->
      list_transform((${cbLiteralSql(cb)})[j+1], cent -> $d2corpus)) AS ds
  FROM nrm),
codes AS (
  SELECT vec_id, list_transform(ds, d -> list_position(d, list_min(d)) - 1) AS pq
  FROM dl)"""
  }

  /** Per-QUERY ADC lookup table: lt[j+1][c+1] = ‖q̂_j − C_j[c]‖², computed
    * once per query (O(queries·m·codes) subspace distances). The per-pair
    * ADC is then m list lookups + a dot-with-ones — the round-3 oracle
    * instead re-evaluated the full codebook-literal diff expression per
    * (query, corpus) pair, which took MINUTES per query in DuckDB and
    * plausibly killed the driver's serialized gate. Arithmetic is
    * unchanged: each lt entry is the same diff/list_dot_product fold, and
    * the per-pair sum keeps the same j-ascending dot-with-ones order, so
    * results stay bit-exact with Spark's aggregate fold.
    */
  private def pqLutCte(cb: Array[Array[Array[Double]]]): String = {
    val diff = pqDiffSql(cb) _
    val d2 = s"list_dot_product(${diff("q.qnv", "cent")}, ${diff("q.qnv", "cent")})"
    s"""lut AS (
  SELECT q.query_id,
    list_transform(generate_series(0, ${cb.length - 1}), j ->
      list_transform((${cbLiteralSql(cb)})[j+1], cent -> $d2)) AS lt
  FROM q)"""
  }

  /** ADC select expression over aliases `l` (lt, from [[pqLutCte]]) and `c`
    * (pq) — the dot-with-ones sum is the same sequential fold as Spark's
    * aggregate.
    */
  private def pqAdcSql(m: Int): String =
    s"""list_dot_product(
      list_transform(generate_series(0, ${m - 1}), j -> l.lt[j+1][c.pq[j+1]+1]),
      list_transform(generate_series(0, ${m - 1}), j -> 1.0))"""

  def pqCtes(cb: Array[Array[Array[Double]]], queryMod: Int, shortlist: Int): String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM ${OracleGen.embSrc}),
${pqCodesCtes(cb)},
q AS (SELECT vec_id AS query_id, nv AS qnv FROM nrm WHERE vec_id % $queryMod = 0),
${pqLutCte(cb)},
adc AS (
  SELECT l.query_id, c.vec_id AS neighbor_id, ${pqAdcSql(cb.length)} AS adc
  FROM lut l JOIN codes c ON c.vec_id <> l.query_id),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS sr
    FROM adc)
  WHERE sr <= $shortlist)"""

  /** Composed IVF-PQ CTEs: [[ivfCtes]]' cell assignment (e, sc, rc, cells)
    * + PQ codes + cell-restricted ADC. Queries probe their `nprobe`
    * best-ranked cells (rc), candidates are the probed cells' members
    * only, scored by ADC, shortlisted per query. Ends at
    * `short(query_id, neighbor_id)`; re-rank joins back to `e`.
    */
  def ivfPqCtes(cb: Array[Array[Array[Double]]], numCells: Int, dim: Int,
                seed: Long, queryMod: Int, nprobe: Int, shortlist: Int): String =
    s"""${ivfCtes(numCells, dim, seed)},
${pqCodesCtes(cb)},
qprobes AS (
  SELECT vec_id AS query_id, c AS cell FROM rc
  WHERE vec_id % $queryMod = 0 AND crank <= $nprobe),
q AS (SELECT vec_id AS query_id, nv AS qnv FROM nrm WHERE vec_id % $queryMod = 0),
${pqLutCte(cb)},
adc AS (
  SELECT p.query_id, cl.neighbor_id, ${pqAdcSql(cb.length)} AS adc
  FROM qprobes p
  JOIN cells cl ON cl.cell = p.cell AND cl.neighbor_id <> p.query_id
  JOIN codes c ON c.vec_id = cl.neighbor_id
  JOIN lut l ON l.query_id = p.query_id),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS sr
    FROM adc)
  WHERE sr <= $shortlist)"""

  /** Recursive CTEs for connected components over a pair CTE
    * `pairs(id1, id2)`: produces CTE `cc(doc_id, cluster_id = min reachable
    * id)`, singletons included.
    */
  def ccCte: String =
    """edges AS (
  SELECT id1 AS a, id2 AS b FROM pairs
  UNION ALL SELECT id2, id1 FROM pairs),
reach(n, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT reach.n, e.b FROM reach JOIN edges e ON e.a = reach.r),
cc AS (SELECT n AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1)"""

  def ccSql: String =
    ccCte + "\nSELECT doc_id, cluster_id FROM cc"
}
