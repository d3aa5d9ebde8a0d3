package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{FloatDotProduct, IvfCells, NormalizeFloats, PqAdcDist, PqEncode, SqEncode}
import graft.sig.Signatures

/** Similarity search over an embedding column (Array[Float]) — the
  * training-data-pipeline extension: brute-force cosine as the exact
  * baseline, sign-random-projection LSH bucketing as the scale path.
  *
  * Cosine is computed with `zip_with` + `aggregate` (codegen'd Catalyst
  * exprs, double accumulation in index order — bit-identical to a
  * sequential fold, which is what the DuckDB oracle computes).
  */
object Embeddings {

  /** sqrt(v·v), hoisted ONCE per vector before pairing — the O(n) side of
    * the O(n²) cosine computation (norm value identical to computing it
    * per pair, so oracle hashes are unchanged).
    */
  private def withNorm(df: DataFrame, vCol: String, normName: String): DataFrame =
    df.withColumn(normName, sqrt(FloatDotProduct(col(vCol), col(vCol))))

  /** Exact top-k neighbors by cosine for a set of query vectors.
    * Plan shape: broadcast the (small) query side, one shuffle for the
    * per-query top-k window. Deterministic ordering: (cos desc, id asc).
    */
  def topK(vectors: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = withNorm(queries.select(col("vec_id").as("query_id"), col("embedding").as("qv")),
      "qv", "qn")
    val v = withNorm(vectors.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv")),
      "nv", "nn")
    val scored = v.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (FloatDotProduct(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("_s"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("_s").desc, col("neighbor_id"))
    localTopK(scored, k, asc = false)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("_s").as("cosine"))
  }

  /** Map-side bounded per-query selection: keep each input partition's k
    * best (by Spark's total double order — the exact `orderBy(_s
    * [desc|asc], neighbor_id)` window order, incl. NaN-largest and
    * -0.0<0.0) rows per query_id, with per-query bounded heaps. A row in
    * the GLOBAL top-k is necessarily in its partition's local top-k, so
    * composing this with the original window changes nothing about the
    * result — but the window's exchange now carries at most
    * partitions·queries·k rows instead of the full candidate set, and the
    * selection work runs at scan parallelism instead of #queries tasks.
    * At n=1M/64 queries this is the difference between a 64-task sort of
    * 64M candidate rows and a map pass (measured minutes → seconds); at
    * the 10^12 target the single-window form simply does not run.
    * Input contract: columns (query_id, neighbor_id, _s), one row per
    * (query, neighbor).
    */
  private def localTopK(scored: DataFrame, k: Int, asc: Boolean): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    val narrow = scored.select(col("query_id").cast("long"),
      col("neighbor_id").cast("long"), col("_s").cast("double"))
    // InternalRow-level pass: no Row/tuple boxing on the O(candidates)
    // side; only the ≤ queries·k survivors are materialized
    GraftColumnBridge.mapPartitionsInternal(narrow, { it =>
      val heaps = new java.util.HashMap[Long, BoundedWorstHeap]()
      while (it.hasNext) {
        val r = it.next()
        val q = r.getLong(0)
        var h = heaps.get(q)
        if (h == null) { h = new BoundedWorstHeap(k, asc); heaps.put(q, h) }
        h.offer(r.getDouble(2), r.getLong(1))
      }
      val out = new java.util.ArrayList[org.apache.spark.sql.catalyst.InternalRow]()
      heaps.forEach { (q, h) =>
        var i = 0
        while (i < h.size) {
          out.add(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](q, h.nn(i), h.ss(i))))
          i += 1
        }
      }
      import scala.jdk.CollectionConverters._
      out.iterator.asScala
    })
  }

  /** Primitive-array bounded selection heap: keeps the k BEST (score,
    * neighbor) pairs seen, where "better" is Spark's total order on
    * (score asc|desc, neighbor asc) — java.lang.Double.compare semantics,
    * NaN largest, -0.0 < 0.0. The root is the WORST kept entry (max-heap
    * by worseness), so admission is one comparison.
    */
  private[graft] final class BoundedWorstHeap(k: Int, asc: Boolean) {
    val ss = new Array[Double](k)
    val nn = new Array[Long](k)
    var size = 0

    private def worse(s1: Double, n1: Long, s2: Double, n2: Long): Boolean = {
      val c0 = java.lang.Double.compare(s1, s2)
      val c = if (asc) c0 else -c0
      if (c != 0) c > 0 else n1 > n2
    }

    def offer(s: Double, n: Long): Unit = {
      if (size < k) {
        var i = size
        ss(i) = s; nn(i) = n; size += 1
        while (i > 0 && worse(ss(i), nn(i), ss((i - 1) / 2), nn((i - 1) / 2))) {
          val p = (i - 1) / 2
          val ts = ss(i); val tn = nn(i)
          ss(i) = ss(p); nn(i) = nn(p); ss(p) = ts; nn(p) = tn
          i = p
        }
      } else if (worse(ss(0), nn(0), s, n)) {
        ss(0) = s; nn(0) = n
        var i = 0
        var done = false
        while (!done) {
          val l = 2 * i + 1; val r = l + 1
          var m = i
          if (l < size && worse(ss(l), nn(l), ss(m), nn(m))) m = l
          if (r < size && worse(ss(r), nn(r), ss(m), nn(m))) m = r
          if (m == i) done = true
          else {
            val ts = ss(i); val tn = nn(i)
            ss(i) = ss(m); nn(i) = nn(m); ss(m) = ts; nn(m) = tn
            i = m
          }
        }
      }
    }
  }

  /** All pairs with cosine >= threshold (exact, for moderate n; the LSH
    * variant bounds candidates at scale). Norms hoisted to the O(n) side.
    */
  def thresholdPairs(vectors: DataFrame, threshold: Double): DataFrame = {
    val a = withNorm(vectors.select(col("vec_id").as("id1"), col("embedding").as("v1")), "v1", "n1")
    val b = withNorm(vectors.select(col("vec_id").as("id2"), col("embedding").as("v2")), "v2", "n2")
    a.join(b, col("id1") < col("id2"))
      .withColumn("cosine", FloatDotProduct(col("v1"), col("v2")) / (col("n1") * col("n2")))
      .where(col("cosine") >= threshold)
      .select(col("id1"), col("id2"), col("cosine"))
  }

  /** Sign-random-projection LSH: `bits` pseudo-random ±1 hyperplanes
    * (derived from hash60(seed:bit:dim) parity — deterministic, no stored
    * model), bucketed by the sign vector split into bands. Candidates =
    * same (band, value); verify with exact cosine. Scale path: one shuffle
    * on band keys, quadratic only within buckets.
    */
  /** The deterministic ±1 SRP hyperplanes shared by every LSH path (and
    * emitted as literals by the ann_lsh oracle SQL).
    */
  def srpPlanes(bits: Int, dim: Int, seed: Long): Array[Array[Double]] =
    graft.functions.SrpSignature.planes(bits, dim, seed)

  /** Corpus-side SRP bucketing — the signature is a native codegen'd
    * expression ([[graft.functions.SrpSignature]]): at index-build scale
    * this is the per-vector hot map, and the boxed-UDF version it replaces
    * allocated a Seq[Float] per row and broke the scan's codegen span.
    */
  def lshBuckets(vectors: DataFrame, dim: Int, bits: Int, bands: Int, seed: Long): DataFrame =
    vectors.withColumn("srp",
        graft.functions.SrpSignature(col("embedding"), bits, dim, seed))
      .select(col("vec_id"), col("embedding"),
        explode(Signatures.bitBlockKeysCol(col("srp"), bands, bits)).as("bucket"))

  /** Deterministic IVF coarse quantizer: K data-independent centroids with
    * coordinates derived from hash60 (uniform in [-1, 1]) — no training
    * collect, reproducible in SQL as literals. A trained quantizer would
    * tighten cells, but a fixed one already gives the IVF *shape*: one
    * narrow shuffle to cells, probes touch nprobe/K of the corpus.
    */
  def ivfCentroids(k: Int, dim: Int, seed: Long): Array[Array[Double]] =
    Array.tabulate(k, dim)((c, d) =>
      (Signatures.hash60(s"ivf:$seed:$c:$d") % 2001 - 1000) / 1000.0)

  /** TRAINED IVF quantizer: SPHERICAL k-means over a deterministic sample,
    * run on the driver (the sample is tiny — ≤ sampleN×dim doubles — so
    * this is the standard train-on-sample/broadcast-centroids shape; at
    * the 10^12 target the sample read is one narrow TABLESAMPLE scan).
    *
    * Spherical, because the search metric is COSINE: sample vectors are
    * L2-normalized, assignment maximizes v̂·c, and centroids are
    * re-normalized after each mean update — so every trained centroid is
    * unit-length, and the runtime cell assigner (argmax v·c − ||c||²/2,
    * [[ivfCellAssigner]]) reduces to argmax v·c: exactly cosine assignment.
    * Plain L2 k-means on unnormalized data splits by MAGNITUDE and
    * measured only 0.59 recall@nprobe=4 on the synthetic table; spherical
    * recovers the angular structure.
    *
    * Everything is deterministic: the sample is the lowest-xxhash64 ids
    * (stable under partitioning — no RNG on the cluster), init picks
    * evenly spaced points of the hash-ordered sample, ties break to the
    * lower cell index, and an emptied cell is reseeded with the sample
    * point least aligned with its assigned centroid.
    */
  def trainIvfCentroids(vectors: DataFrame, numCells: Int,
                        sampleN: Int = 2048, iters: Int = 8): Array[Array[Double]] = {
    def normalized(v: Array[Double]): Array[Double] = {
      var acc = 0.0; var i = 0
      while (i < v.length) { acc += v(i) * v(i); i += 1 }
      val n = math.sqrt(acc)
      if (n > 0) { i = 0; while (i < v.length) { v(i) /= n; i += 1 } }
      v
    }
    val sample: Array[Array[Double]] = vectors
      .select(col("vec_id"), col("embedding"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(sampleN)
      .collect()
      .map(r => normalized(r.getSeq[Float](1).toArray.map(_.toDouble)))
    require(sample.nonEmpty, "cannot train IVF on an empty vector table")
    val k = math.min(numCells, sample.length)
    val cents = Array.tabulate(k)(c => sample((c.toLong * sample.length / k).toInt).clone())
    val assign = new Array[Int](sample.length)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { acc += a(i) * b(i); i += 1 }
      acc
    }
    var it = 0
    while (it < iters) {
      var p = 0
      while (p < sample.length) {
        var bestC = 0; var bestD = Double.NegativeInfinity
        var c = 0
        while (c < k) {
          val d = dot(sample(p), cents(c))
          if (d > bestD) { bestD = d; bestC = c }
          c += 1
        }
        assign(p) = bestC
        p += 1
      }
      val sums = Array.ofDim[Double](k, cents(0).length)
      val counts = new Array[Int](k)
      p = 0
      while (p < sample.length) {
        val c = assign(p); counts(c) += 1
        val v = sample(p); var i = 0
        while (i < v.length && i < sums(c).length) { sums(c)(i) += v(i); i += 1 }
        p += 1
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          cents(c) = normalized(sums(c))
        } else {
          // reseed an emptied cell with the sample point least aligned
          // with its own centroid (deterministic: first min wins)
          var far = 0; var farD = Double.MaxValue; var q = 0
          while (q < sample.length) {
            val d = dot(sample(q), cents(assign(q)))
            if (d < farD) { farD = d; far = q }
            q += 1
          }
          cents(c) = sample(far).clone()
        }
        c += 1
      }
      it += 1
    }
    cents
  }

  /** Cell score used for assignment: argmax_c (v·c − ||c||²/2), the
    * L2-nearest centroid rewritten without ||v||². Ties break to the lower
    * cell index. Scores are sequential-fold doubles, so a SQL oracle with
    * `list_dot_product` reproduces them bit-for-bit. Native codegen'd
    * expression ([[graft.functions.IvfCells]]) — the corpus-side cell
    * assignment is the O(n·cells·dim) map of every index build.
    */
  def ivfCellAssigner(cents: Array[Array[Double]], nprobe: Int): Column => Column =
    IvfCells(_, cents, nprobe)

  /** IVF top-k ANN: assign every vector to its nearest deterministic
    * centroid cell (one shuffle), probe each query's `nprobe` nearest
    * cells, verify with exact cosine, per-query top-k. The scale path for
    * similarity search: probes read nprobe/K of the corpus instead of all
    * of it; cells are ordinary partition keys, so AQE handles cell skew.
    */
  def ivfTopK(vectors: DataFrame, queries: DataFrame, k: Int,
              numCells: Int = 16, nprobe: Int = 4, dim: Int = 64,
              seed: Long = 42L,
              centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // default: the data-independent quantizer (SQL-reproducible for the
    // oracle row); pass trainIvfCentroids(...) for the trained cells that
    // reach the same recall with fewer probes
    val cents = centroids.getOrElse(ivfCentroids(numCells, dim, seed))
    val cellOf = ivfCellAssigner(cents, 1)
    val probeOf = ivfCellAssigner(cents, nprobe)
    val cells = withNorm(
      vectors.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"),
        explode(cellOf(col("embedding"))).as("cell")), "nv", "nn")
    val probes = withNorm(
      queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        explode(probeOf(col("embedding"))).as("cell")), "qv", "qn")
    // each vector lives in exactly one cell, so a (query, neighbor) pair
    // occurs at most once across the probed cells — no dedup needed
    val scored = cells.join(broadcast(probes), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (FloatDotProduct(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("_s"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("_s").desc, col("neighbor_id"))
    localTopK(scored, k, asc = false)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("int").as("rank"),
        col("_s").as("cosine"))
  }

  /** Approximate threshold pairs via SRP-LSH bucketing + exact verify.
    * Band geometry must match the target similarity: P(bit agree) =
    * 1 - θ/π, so a cosine-0.4 target (θ≈66°, p≈0.63) needs SHORT bands —
    * 8 bands x 2 bits gives 1-(1-p²)⁸ ≈ 0.98 recall; 4-bit bands would
    * halve it. Steeper thresholds (0.9+) afford longer bands and far
    * smaller buckets; the bucket cap bounds the quadratic pairing either
    * way.
    */
  def lshThresholdPairs(vectors: DataFrame, dim: Int, threshold: Double,
                        bits: Int = 16, bands: Int = 8, seed: Long = 42L): DataFrame = {
    val keyed = lshBuckets(vectors, dim, bits, bands, seed)
      .select(col("vec_id").as("id"), col("bucket").as("key"))
    val cands = graft.block.Blocking.pairsFromKeys(keyed, Some(2000))
    val a = withNorm(vectors.select(col("vec_id").as("id1"), col("embedding").as("v1")), "v1", "n1")
    val b = withNorm(vectors.select(col("vec_id").as("id2"), col("embedding").as("v2")), "v2", "n2")
    cands.join(a, Seq("id1")).join(b, Seq("id2"))
      .withColumn("cosine", FloatDotProduct(col("v1"), col("v2")) / (col("n1") * col("n2")))
      .where(col("cosine") >= threshold)
      .select(col("id1"), col("id2"), col("cosine"))
  }

  /** SemDeDup-shaped semantic near-dup pairs (Abbas et al. 2023): quantize
    * every embedding to its `nprobe` nearest cells, emit exact-cosine pairs
    * ABOVE `threshold` within any shared cell. The cluster assignment bounds
    * the quadratic to within-cell pairing — at scale `numCells` grows with n
    * (SemDeDup uses ~10^5 clusters at web scale) so cells stay
    * executor-sized; cells are ordinary shuffle keys (AQE splits skewed
    * ones), and nprobe=2 recovers the cell-boundary pairs single-assignment
    * clustering structurally misses. Distinct collapses pairs sharing both
    * probed cells.
    */
  def semanticPairs(vectors: DataFrame, threshold: Double, numCells: Int = 16,
                    nprobe: Int = 2, dim: Int = 64, seed: Long = 42L,
                    centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val cents = centroids.getOrElse(ivfCentroids(numCells, dim, seed))
    val assign = ivfCellAssigner(cents, nprobe)
    val asg = withNorm(
      vectors.select(col("vec_id"), col("embedding")), "embedding", "n")
      .select(col("vec_id"), col("embedding"), col("n"),
        explode(assign(col("embedding"))).as("cell"))
    val a = asg.select(col("cell"), col("vec_id").as("id1"),
      col("embedding").as("v1"), col("n").as("n1"))
    val b = asg.select(col("cell"), col("vec_id").as("id2"),
      col("embedding").as("v2"), col("n").as("n2"))
    a.join(b, Seq("cell")).where(col("id1") < col("id2"))
      .withColumn("cosine", FloatDotProduct(col("v1"), col("v2")) / (col("n1") * col("n2")))
      .where(col("cosine") >= threshold)
      .select(col("id1"), col("id2"), col("cosine"))
      .distinct()
  }

  /** DBSCAN (Ester et al., KDD 1996) over the cosine ε-graph: neighbors
    * are pairs with cosine ≥ `threshold` (found with the SAME cell-bucketed
    * [[semanticPairs]] machinery — never all-pairs), a point is CORE when
    * its ε-neighborhood holds ≥ minPts points (itself included), clusters
    * are connected components over core–core edges (distributed
    * large-star/small-star, min-core-id labels), BORDER points attach to
    * the smallest cluster id among their core neighbors (the paper leaves
    * this tie arbitrary; min is the deterministic choice), and everything
    * else is NOISE (cluster_id = -1) — the density semantics SemDeDup's
    * plain ε-closure lacks: a chain of sparse links no longer glues
    * unrelated regions, because non-core links never propagate labels.
    *
    * Scale shape: degree counting is one partial-combined aggregate over
    * the edge list, core filtering and border attachment are joins on
    * 8-byte ids, and the CC loop touches core–core edges only.
    */
  def dbscan(vectors: DataFrame, threshold: Double, minPts: Int): DataFrame =
    dbscanFromEdges(vectors,
      semanticPairs(vectors, threshold).select(col("id1"), col("id2")), minPts)

  /** [[dbscan]] over a prepared ε-edge frame (id1, id2) — lets catalog
    * queries ride one memoized pair stage across the semantic family.
    */
  def dbscanFromEdges(vectors: DataFrame, edges: DataFrame, minPts: Int): DataFrame = {
    val und = edges.select(col("id1").as("a"), col("id2").as("b"))
      .unionAll(edges.select(col("id2").as("a"), col("id1").as("b")))
    val deg = und.groupBy(col("a")).agg(count(lit(1)).as("degree"))
    val core = deg.where(col("degree") >= minPts - 1).select(col("a").as("v"))
    val coreEdges = edges
      .join(core.select(col("v").as("id1")), "id1")
      .join(core.select(col("v").as("id2")), "id2")
    val coreAssign = graft.cluster.ConnectedComponents
      .assignAll(core.select(col("v").as("vec_id")), "vec_id", coreEdges)
      .select(col("id").as("v"), col("cluster_id"))
    val border = und
      .join(coreAssign.select(col("v").as("b"), col("cluster_id")), "b")
      .join(core.select(col("v").as("a")), Seq("a"), "left_anti")
      .groupBy(col("a")).agg(min(col("cluster_id")).as("b_cluster"))
    vectors.select(col("vec_id"))
      .join(deg.select(col("a").as("vec_id"), col("degree")), Seq("vec_id"), "left")
      .join(coreAssign.select(col("v").as("vec_id"),
        col("cluster_id").as("c_cluster")), Seq("vec_id"), "left")
      .join(border.select(col("a").as("vec_id"), col("b_cluster")),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("c_cluster"), col("b_cluster"), lit(-1L)).as("cluster_id"),
        when(col("c_cluster").isNotNull, "core")
          .when(col("b_cluster").isNotNull, "border")
          .otherwise("noise").as("role"),
        coalesce(col("degree"), lit(0L)).as("degree"))
  }

  /** MULTI-PROBE SRP-LSH top-k (Lv et al., VLDB'07, adapted to sign
    * projections): the index stores each vector once per band under its
    * base key, and each QUERY additionally probes the buckets reached by
    * flipping its `probesPerBand` least-confident sign bits per band — the
    * bits whose projection magnitude |v·plane| is smallest, i.e. exactly
    * the ones a true near-neighbor is most likely to differ on. Recall per
    * band roughly multiplies by (1 + probes) at a 1+probes candidate-read
    * cost, WITHOUT growing the index: at the 10^12 scale the index is the
    * expensive replicated artifact (bands × corpus entries), so buying
    * recall on the query side is the right trade vs adding bands.
    *
    * The probe-key expansion runs only on the QUERY side (the small
    * broadcast relation), never over the corpus — the corpus side stays on
    * the shared single-signature bucket path ([[lshBuckets]]), whose cost
    * is the bits×dim multiply-adds, not allocation.
    *
    * Plan shape: one shuffle of the (narrow) index on bucket keys, probe
    * join, dedup on (query, neighbor), exact-cosine verify, per-query
    * top-k window. Deterministic: planes from hash60, ties (equal
    * |projection|) break to the lower bit index.
    */
  // ------------------------------------------------- product quantization

  /** Deterministic data-independent PQ codebooks (hash60-uniform entries),
    * the catalog/oracle configuration: like [[ivfCentroids]], no training
    * collect and reproducible as SQL literals. `scale` roughly matches the
    * element range of a unit 64-dim vector so untrained cells still carry
    * distance signal. codebook(j)(c) is centroid c of subspace j.
    */
  def pqCodebooks(m: Int, codes: Int, subDim: Int, seed: Long,
                  scale: Double = 0.25): Array[Array[Array[Double]]] =
    Array.tabulate(m, codes, subDim)((j, c, d) =>
      (Signatures.hash60(s"pq:$seed:$j:$c:$d") % 2001 - 1000) / 1000.0 * scale)

  /** TRAINED PQ codebooks: per-subspace plain-L2 k-means over the same
    * deterministic driver-side sample discipline as [[trainIvfCentroids]]
    * (lowest-xxhash64 ids, evenly spaced init, ties to the lower code,
    * emptied codes reseeded with the worst-quantized sample subvector).
    * Vectors are L2-normalized BEFORE splitting, because the search metric
    * is cosine: on unit vectors ‖v̂−ĉ‖² = 2−2cos, so minimizing subspace
    * L2 error minimizes the ADC cosine error. Plain (not spherical)
    * k-means within each subspace — subvectors of a unit vector are not
    * themselves unit, so magnitude IS signal there.
    */
  def trainPqCodebooks(vectors: DataFrame, m: Int, codes: Int,
                       sampleN: Int = 2048, iters: Int = 8): Array[Array[Array[Double]]] = {
    val sample: Array[Array[Double]] = vectors
      .select(col("vec_id"), col("embedding"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(sampleN)
      .collect()
      .map { r =>
        val v = r.getSeq[Float](1).toArray.map(_.toDouble)
        var acc = 0.0; var i = 0
        while (i < v.length) { acc += v(i) * v(i); i += 1 }
        val n = math.sqrt(acc)
        if (n > 0) { i = 0; while (i < v.length) { v(i) /= n; i += 1 } }
        v
      }
    require(sample.nonEmpty, "cannot train PQ on an empty vector table")
    val dim = sample(0).length
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val subDim = dim / m

    def dist2(a: Array[Double], off: Int, b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < b.length) { val d = a(off + i) - b(i); acc += d * d; i += 1 }
      acc
    }

    Array.tabulate(m) { j =>
      val off = j * subDim
      val k = math.min(codes, sample.length)
      val cents = Array.tabulate(k)(c =>
        java.util.Arrays.copyOfRange(sample((c.toLong * sample.length / k).toInt), off, off + subDim))
      val assign = new Array[Int](sample.length)
      var it = 0
      while (it < iters) {
        var p = 0
        while (p < sample.length) {
          var bestC = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < k) {
            val d = dist2(sample(p), off, cents(c))
            if (d < bestD) { bestD = d; bestC = c }
            c += 1
          }
          assign(p) = bestC
          p += 1
        }
        val sums = Array.ofDim[Double](k, subDim)
        val counts = new Array[Int](k)
        p = 0
        while (p < sample.length) {
          val c = assign(p); counts(c) += 1
          var i = 0
          while (i < subDim) { sums(c)(i) += sample(p)(off + i); i += 1 }
          p += 1
        }
        var c = 0
        while (c < k) {
          if (counts(c) > 0) {
            var i = 0
            while (i < subDim) { cents(c)(i) = sums(c)(i) / counts(c); i += 1 }
          } else {
            var far = 0; var farD = -1.0; var q = 0
            while (q < sample.length) {
              val d = dist2(sample(q), off, cents(assign(q)))
              if (d > farD) { farD = d; far = q }
              q += 1
            }
            cents(c) = java.util.Arrays.copyOfRange(sample(far), off, off + subDim)
          }
          c += 1
        }
        it += 1
      }
      cents
    }
  }

  /** PQ-ADC top-k with exact re-rank — the IVF-PQ search shape without the
    * coarse stage (compose with [[ivfTopK]]'s cells for both): score every
    * (query, code-row) pair by asymmetric distance Σ_j ‖q̂_j − C_j[code_j]‖²
    * (on unit vectors, monotone in cosine), keep a per-query shortlist,
    * then re-rank ONLY the shortlist with the exact float cosine. The
    * corpus side that meets the broadcast queries carries codes, never
    * embeddings, so the scan prunes the wide float column from the
    * O(n·queries) stage entirely. Deterministic: ADC ties break on
    * neighbor_id, re-rank ties likewise.
    */
  def pqRerankTopK(vectors: DataFrame, queries: DataFrame, k: Int,
                   cb: Array[Array[Array[Double]]], shortlist: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val coded = vectors
      .select(col("vec_id").as("neighbor_id"), col("embedding"))
      .withColumn("_nv", NormalizeFloats(col("embedding")))
      .withColumn("pq", PqEncode(col("_nv"), cb))
      .select(col("neighbor_id"), col("pq"))
    val q = queries
      .select(col("vec_id").as("query_id"), col("embedding"))
      .withColumn("qnv", NormalizeFloats(col("embedding")))
      .select(col("query_id"), col("qnv"))

    val scored = coded.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        PqAdcDist(col("qnv"), col("pq"), cb).as("_s"))
    val short = localTopK(scored, shortlist, asc = true)
      .withColumn("_sr", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("_s"), col("neighbor_id"))))
      .where(col("_sr") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))

    exactRerank(short, vectors, queries, k)
  }

  /** Exact float-cosine re-rank of a (query_id, neighbor_id) shortlist —
    * only the shortlist rows ever touch the wide embedding column again.
    */
  private def exactRerank(short: DataFrame, vectors: DataFrame,
                          queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qn = withNorm(queries.select(col("vec_id").as("query_id"), col("embedding").as("qv")),
      "qv", "qn")
    val vn = withNorm(vectors.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv")),
      "nv", "nn")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    short.join(broadcast(qn), Seq("query_id")).join(vn, Seq("neighbor_id"))
      .withColumn("cosine", FloatDotProduct(col("qv"), col("nv")) / (col("qn") * col("nn")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("int").as("rank"),
        col("cosine"))
  }

  // ------------------------------------------------- scalar quantization

  /** Per-dimension (min, max) of the NORMALIZED corpus — the SQ8
    * "codebook". Distributed posexplode + per-dim min/max: both aggregates
    * are order-independent, so the stats are bit-exact across engines and
    * partitionings, which is why SQ is the one TRAINED (data-dependent)
    * quantizer whose training lives fully inside the DuckDB oracle — no
    * literal codebooks, no side tables. The collect is dim rows.
    */
  def sqDimStats(vectors: DataFrame): (Array[Double], Array[Double]) = {
    val el = vectors
      .select(posexplode(NormalizeFloats(col("embedding"))).as(Seq("ord", "x")))
      .groupBy("ord").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy("ord").collect()
    (el.map(_.getDouble(1)), el.map(_.getDouble(2)))
  }

  /** SQ8 search: integer squared-L2 over code arrays shortlists, exact
    * float cosine re-ranks — same shape as [[pqRerankTopK]] but the
    * shortlist stage is PURE INTEGER arithmetic (deterministic across
    * engines by construction, no IEEE ordering concerns at all). The
    * corpus side that meets the broadcast queries carries only the code
    * array; ties break on neighbor_id.
    */
  def sqRerankTopK(vectors: DataFrame, queries: DataFrame, k: Int,
                   shortlist: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (mins, maxs) = sqDimStats(vectors)
    val coded = vectors
      .select(col("vec_id").as("neighbor_id"),
        SqEncode(NormalizeFloats(col("embedding")), mins, maxs).as("sq"))
    val q = queries
      .select(col("vec_id").as("query_id"),
        SqEncode(NormalizeFloats(col("embedding")), mins, maxs).as("qsq"))
    // native integer-L2 kernel: this expression runs once per
    // (query, corpus-row) candidate — the O(n·q) stage of the search.
    // The integer dist rides through localTopK as a double: values are
    // bounded by dim·255² < 2^53, so the cast is order-exact.
    val scored = coded.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.LongSqL2(col("qsq"), col("sq")).as("_s"))
    val short = localTopK(scored, shortlist, asc = true)
      .withColumn("_sr", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("_s"), col("neighbor_id"))))
      .where(col("_sr") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(short, vectors, queries, k)
  }

  /** Full IVF-PQ: coarse cell pruning, PQ-ADC shortlist within the probed
    * cells only, exact re-rank — the composed 10^12-scale search layout.
    * The corpus index row is (cell:int, codes:m ints); the O(n·queries)
    * ADC stage touches only nprobe/K of that already-32×-narrower index,
    * and the wide float column is read again only for the per-query
    * shortlist. One shuffle (corpus → cells); queries broadcast.
    */
  def ivfPqTopK(vectors: DataFrame, queries: DataFrame, k: Int,
                cb: Array[Array[Array[Double]]],
                numCells: Int = 16, nprobe: Int = 4, dim: Int = 64,
                seed: Long = 42L, shortlist: Int = 50,
                centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val cents = centroids.getOrElse(ivfCentroids(numCells, dim, seed))
    val coded = ivfPqEncode(vectors, cb, cents)
    ivfPqTopKFromCodes(coded, vectors, queries, k, cb, cents, nprobe, shortlist)
  }

  /** The (cell, neighbor_id, pq) index rows of [[ivfPqTopK]] — the
    * build-once artifact a production deployment persists (parquet /
    * Iceberg) and searches many times. Pure map, nothing shuffled.
    */
  def ivfPqEncode(vectors: DataFrame, cb: Array[Array[Array[Double]]],
                  cents: Array[Array[Double]]): DataFrame = {
    val cellOf = ivfCellAssigner(cents, 1)
    vectors
      .select(col("vec_id").as("neighbor_id"), col("embedding"),
        explode(cellOf(col("embedding"))).as("cell"))
      .withColumn("_nv", NormalizeFloats(col("embedding")))
      .withColumn("pq", PqEncode(col("_nv"), cb))
      .select(col("cell"), col("neighbor_id"), col("pq"))
  }

  /** IVF-PQ search over a PREBUILT codes index (see [[ivfPqEncode]]):
    * the per-query cost never touches the encode — at 10^12 rows the
    * index is built once per corpus version, while searches run
    * per-batch. `vectors` is consulted only for the shortlist re-rank.
    */
  def ivfPqTopKFromCodes(coded: DataFrame, vectors: DataFrame,
                         queries: DataFrame, k: Int,
                         cb: Array[Array[Array[Double]]],
                         cents: Array[Array[Double]],
                         nprobe: Int, shortlist: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probeOf = ivfCellAssigner(cents, nprobe)
    val q = queries
      .select(col("vec_id").as("query_id"), col("embedding"),
        explode(probeOf(col("embedding"))).as("cell"))
      .withColumn("qnv", NormalizeFloats(col("embedding")))
      .select(col("cell"), col("query_id"), col("qnv"))
    // every corpus vector lives in exactly one cell, so a (query, neighbor)
    // pair meets at most once across the probed cells — no dedup needed
    val scored = coded.join(broadcast(q), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        PqAdcDist(col("qnv"), col("pq"), cb).as("_s"))
    val short = localTopK(scored, shortlist, asc = true)
      .withColumn("_sr", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("_s"), col("neighbor_id"))))
      .where(col("_sr") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(short, vectors, queries, k)
  }

  def lshTopKMultiProbe(vectors: DataFrame, queries: DataFrame, k: Int,
                        dim: Int = 64, bits: Int = 24, bands: Int = 6,
                        probesPerBand: Int = 2, seed: Long = 42L,
                        bucketCap: Int = 4000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bits % bands == 0, s"bits=$bits must divide into bands=$bands")
    val per = bits / bands
    val planes = srpPlanes(bits, dim, seed)
    val t = math.min(probesPerBand, per)

    val probeKeys = udf((v: Seq[Float]) => {
      val acc = new Array[Double](bits)
      var b = 0
      while (b < bits) {
        var s = 0.0; var d = 0
        val p = planes(b)
        while (d < v.length && d < dim) { s += p(d) * v(d); d += 1 }
        acc(b) = s
        b += 1
      }
      val keys = new scala.collection.mutable.ArrayBuffer[String]((1 + t) * bands)
      var i = 0
      while (i < bands) {
        var base = 0L
        var p = 0
        while (p < per) {
          if (acc(i * per + p) > 0) base |= (1L << p)
          p += 1
        }
        keys += s"$i:$base"
        // t least-confident bits of this band, ascending |projection|
        val order = (0 until per).sortBy(p => (math.abs(acc(i * per + p)), p))
        var j = 0
        while (j < t) {
          keys += s"$i:${base ^ (1L << order(j))}"
          j += 1
        }
        i += 1
      }
      keys.toSeq
    })

    // index: corpus bucketed once per band (native path), skew-capped
    val index0 = lshBuckets(vectors, dim, bits, bands, seed)
      .select(col("vec_id").as("neighbor_id"), col("bucket"))
    val counts = index0.groupBy("bucket").agg(count(lit(1)).as("_n"))
    val index = index0.join(counts.where(col("_n") <= bucketCap), Seq("bucket")).drop("_n")

    val probes = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .withColumn("bucket", explode(probeKeys(col("qv"))))

    // a (query, neighbor) pair can meet in several probed buckets — dedup
    // BEFORE the cosine verify so each candidate is scored once
    val cands = probes.join(index, Seq("bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()

    val q = withNorm(queries.select(col("vec_id").as("query_id"), col("embedding").as("qv")),
      "qv", "qn")
    val v = withNorm(vectors.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv")),
      "nv", "nn")
    val scored = cands.join(broadcast(q), Seq("query_id")).join(v, Seq("neighbor_id"))
      .withColumn("cosine", FloatDotProduct(col("qv"), col("nv")) / (col("qn") * col("nn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("int").as("rank"),
        col("cosine"))
  }
}
