package graft.cluster

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.functions.{col, when}
import org.apache.spark.util.LongAccumulator

import graft.model.{Classification, IdOrdering}
import graft.sig.Signatures

/** Precision refinement of transitive-closure clusters — the port of the
  * reference's cluster-splitting stage (bakdata/dedupe
  * `common/dedupe/clustering/RefineClusterImpl.java:78-459`): small clusters
  * are re-partitioned optimally by enumerating every set partition
  * (restricted-growth strings) against the full pairwise weight matrix; big
  * clusters greedily, over known edges plus sampled triangle edges.
  *
  * All algorithms are sequential per cluster and run inside one cogroup
  * ([[refineAll]], the only Dataset-level entry point) — per-cluster data is
  * small by construction (SURVEY.md §2.5). Deviations from the reference,
  * both deliberate:
  *  - randomness is seeded per cluster (the reference uses
  *    ThreadLocalRandom, :79 — nondeterministic);
  *  - greedy edges are visited in descending weight (the reference
  *    iterates a PriorityQueue with for-each, which visits heap order —
  *    an accident of Java PQ iteration, not a semantic choice).
  */
object Refine {

  /** Exact-partition cutoff: clusters of at most this many members are
    * re-partitioned exactly, bigger ones greedily (ref
    * `RefineClusterImpl.java:86` default).
    */
  val MaxSmall = 10

  /** Size guard: clusters above this many members pass through whole
    * (SURVEY.md §7.5 risk 3) — every greedy merge rescores the O(n²)
    * weight matrix.
    */
  val MaxRefine = 300

  /** Edge weight from a classification (ref `getWeight`, :104-115):
    * DUPLICATE => +confidence, NON_DUPLICATE => -confidence, any other
    * class => 0 (no weight).
    */
  def classificationWeight(classification: Column, confidence: Column): Column =
    when(classification === Classification.Duplicate, confidence)
      .when(classification === Classification.NonDuplicate, -confidence)
      .otherwise(0.0)

  /** [[classificationWeight]] of one scalar result. */
  def classificationWeight(classification: String, confidence: Double): Double =
    if (classification == Classification.Duplicate) confidence
    else if (classification == Classification.NonDuplicate) -confidence else 0.0

  /** Signed weight of similarity `s` at threshold `t` — the weight
    * [[classificationWeight]] gives the outcome of
    * [[graft.classify.Classifier.thresholdRule]] (ref `scaleAtThreshold`).
    */
  def thresholdWeight(s: Double, t: Double): Double =
    if (s >= t) (s - t) / (1 - t) else -(t - s) / t

  /** Refine every cluster of a CC assignment in one cogroup over
    * (members, known edges) — clusters are only split, never merged
    * (SURVEY.md §7.1.5).
    *
    * Per cluster: members are sorted by id under [[IdOrdering]] (UTF-8
    * byte order for strings, the order CC's `min` uses) and
    * indexed; known edges with both endpoints inside become [[WEdge]]s;
    * clusters of at most 2 or more than [[MaxRefine]] members pass through
    * with their CC id; the rest go to [[refineCluster]] with cutoff
    * [[MaxSmall]] and the seed `hash60(cluster_id)`, and each part is named
    * by its minimum member id — so an unsplit cluster keeps its CC id.
    *
    * @param assign   CC assignment (id, cluster_id)
    * @param members  (id, payload): the payload, decoded as `P`, is all that
    *                 `classify` reads
    * @param edges    known edges (id1, id2, w) with signed weights
    *                 ([[classificationWeight]])
    * @param classify signed weight of a pair no known edge scores
    * @param splitCounter optional accumulator counting split clusters —
    *        the report-only analog of the reference's ClusterSplitHandler
    *        veto callback (`core/dedupe/clustering/ClusterSplitHandler
    *        .java:37-69`; SURVEY.md §2.5: splits logged to metrics)
    * @return (id, cluster_id) for every assigned id
    */
  def refineAll[K: Encoder, P: Encoder](
      assign: DataFrame, members: DataFrame, edges: DataFrame,
      classify: (P, P) => Double,
      splitCounter: Option[LongAccumulator] = None): DataFrame = {
    val kEnc = implicitly[Encoder[K]]
    val idType = assign.schema("id").dataType
    // name-based using-joins only: assign's lineage may contain the inputs
    // of members/edges, so dataset-tagged references would be ambiguous
    // self-joins
    val ms = assign.join(members.toDF("id", "p"), Seq("id"))
      .select(col("cluster_id"), col("id"), col("p"))
      .as(Encoders.tuple(kEnc, kEnc, implicitly[Encoder[P]]))
    val es = edges.toDF("id", "id2", "w").join(assign, Seq("id"))
      .select(col("cluster_id"), col("id"), col("id2"), col("w"))
      .as(Encoders.tuple(kEnc, kEnc, kEnc, Encoders.scalaDouble))

    ms.groupByKey(_._1)(kEnc).cogroup(es.groupByKey(_._1)(kEnc)) { (cid, mIt, eIt) =>
      val all = mIt.toArray
      if (all.length <= 2 || all.length > MaxRefine) all.iterator.map(m => (m._2, cid))
      else {
        val mem = all.sortBy(_._2)(IdOrdering.of(idType))
        val idx = mem.iterator.map(_._2).zipWithIndex.toMap
        val known = eIt.flatMap { e =>
          for (i <- idx.get(e._2); j <- idx.get(e._3)) yield WEdge.of(i, j, e._4)
        }.toList
        val labels = refineCluster(mem.length, known,
          (i, j) => classify(mem(i)._3, mem(j)._3), MaxSmall, Signatures.hash60(cid.toString))
        val byLabel = mem.indices.groupBy(labels(_))
        if (byLabel.size > 1) splitCounter.foreach(_.add(1))
        // members are sorted, so a part's smallest index is its minimum id
        byLabel.valuesIterator.flatMap { is =>
          val newId = mem(is.min)._2
          is.iterator.map(i => (mem(i)._2, newId))
        }
      }
    }(Encoders.tuple(kEnc, kEnc)).toDF("id", "cluster_id")
  }

  /** Partition quality (ref `scoreClustering`, :117-137): intra-pair weight
    * is amortized over partition size; inter-pair weight penalizes both
    * sides scaled by their complements.
    */
  def scoreClustering(partitions: Array[Int], w: Array[Array[Double]]): Double = {
    val n = partitions.length
    val sizes = new Array[Int](n)
    partitions.foreach(p => sizes(p) += 1)
    var score = 0.0
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val wij = w(i)(j)
        if (partitions(i) == partitions(j)) score += wij / sizes(partitions(i))
        else score -= wij / (n - sizes(partitions(i))) + wij / (n - sizes(partitions(j)))
        j += 1
      }
      i += 1
    }
    score
  }

  /** Every set partition of n elements as restricted-growth strings, in the
    * reference generator's lexicographic order (`ClusteringGenerator`,
    * :353-396) — order matters: ties in score keep the earliest partition.
    */
  def partitionsIterator(n: Int): Iterator[Array[Int]] = {
    val cur = new Array[Int](n)
    def rec(i: Int, maxUsed: Int): Iterator[Array[Int]] =
      if (i == n) Iterator.single(cur.clone())
      else (0 to math.min(maxUsed + 1, n - 1)).iterator.flatMap { k =>
        cur(i) = k
        rec(i + 1, math.max(maxUsed, k))
      }
    rec(0, -1)
  }

  /** Exact refinement for small clusters (ref `refineSmallCluster`,
    * :206-227): fill unknown weights via `classify`, argmax over all
    * partitions (earliest wins on ties).
    */
  def refineSmall(n: Int, knownW: Array[Array[Double]],
                  classify: (Int, Int) => Double): Array[Int] = {
    val w = Array.tabulate(n, n)((i, j) => knownW(i)(j))
    for (i <- 0 until n; j <- i + 1 until n)
      if (w(i)(j).isNaN) w(i)(j) = classify(i, j)
    var best: Array[Int] = null
    var bestScore = Double.NegativeInfinity
    partitionsIterator(n).foreach { p =>
      val s = scoreClustering(p, w)
      if (s > bestScore) { bestScore = s; best = p }
    }
    best
  }

  final case class WEdge(l: Int, r: Int, w: Double) {
    def overlaps(e: WEdge): Boolean =
      e.l == l || e.l == r || e.r == l || e.r == r
    /** Third edge of the triangle spanned with an overlapping edge
      * (ref `getTriangleEdge`, :154-164).
      */
    def triangleEdge(e: WEdge): WEdge =
      if (l < e.l) WEdge(l, e.l + e.r - r, Double.NaN)
      else if (l == e.l) WEdge(math.min(r, e.r), math.max(r, e.r), Double.NaN)
      else WEdge(e.l, l + r - e.r, Double.NaN)
  }
  object WEdge {
    def of(i: Int, j: Int, w: Double): WEdge = WEdge(math.min(i, j), math.max(i, j), w)
  }

  def triangularNumber(n: Int): Int = (n + 1) * n / 2

  /** Decode a linear index into the (row, col) of the strict lower triangle
    * (ref `createGaussPair`, :154-164).
    */
  def gaussPair(i: Int): (Int, Int) = {
    val left = (math.sqrt(2.0 * i + 0.25) - 0.5).toInt
    (left, i - triangularNumber(left))
  }

  /** Random candidate edges over the triangle-index space (ref
    * `getRandomEdges`, :139-147) — seeded, unlike the reference.
    */
  def randomEdges(potential: Int, desired: Int, rnd: Random): List[WEdge] = {
    val seen = mutable.LinkedHashSet.empty[Int]
    val out = mutable.ListBuffer.empty[WEdge]
    var guard = 0
    while (out.size < desired && seen.size < potential && guard < potential * 20) {
      guard += 1
      val i = rnd.nextInt(potential)
      if (seen.add(i)) {
        val (l, r) = gaussPair(i)
        if (l != r) out += WEdge.of(l, r, Double.NaN)
      }
    }
    out.toList
  }

  /** Grow the known-edge set with triangle edges until `desired` edges
    * (ref `addRandomEdges`, :299-317), shuffled with the seeded rnd.
    */
  def addRandomEdges(edges: List[WEdge], desired: Int, maxSmall: Int, rnd: Random): List[WEdge] = {
    val acc = mutable.LinkedHashSet(edges: _*)
    var distance = 2
    while (distance < maxSmall && acc.size < desired) {
      val added = edges.iterator
        .flatMap(e => edges.iterator.filter(e.overlaps).map(e.triangleEdge))
        .filter(t => !acc.contains(t) && t.l >= 0 && t.r >= 0 && t.l != t.r)
        .take(math.max(desired - edges.size, 0))
        .toList
      acc ++= rnd.shuffle(added)
      distance += 1
    }
    acc.toList
  }

  /** Greedy refinement (ref `GreedyClustering.greedyCluster`, :427-458):
    * start from singletons; for each edge in descending weight, merge its
    * endpoints' partitions if the score improves.
    */
  def greedyCluster(n: Int, edges: Seq[WEdge]): Array[Int] = {
    val w = Array.ofDim[Double](n, n)
    edges.foreach(e => w(e.l)(e.r) = e.w)
    var clustering = Array.tabulate(n)(identity)
    var score = scoreClustering(clustering, w)
    edges.sortBy(-_.w).foreach { e =>
      val next = clustering.clone()
      val keep = next(e.l); val drop = next(e.r)
      var i = 0
      while (i < n) { if (next(i) == drop) next(i) = keep; i += 1 }
      val s = scoreClustering(next, w)
      if (s > score) { score = s; clustering = next }
    }
    clustering
  }

  /** Heuristic refinement for big clusters (ref `refineBigCluster`,
    * :189-196): known edges + triangle/random fill to T(maxSmall) edges,
    * unknown weights computed, then greedy.
    */
  def refineBig(n: Int, known: List[WEdge], classify: (Int, Int) => Double,
                maxSmall: Int, seed: Long): Array[Int] = {
    val rnd = new Random(seed)
    val desired = triangularNumber(maxSmall)
    // Scale guard (beyond the reference): a dense known-edge set makes both
    // the triangle fill and the greedy loop quadratic-in-edges x O(n^2)
    // scoring — subsample to a few x desired; the greedy merge only needs a
    // spanning sample, not every edge.
    val sampled =
      if (known.size > desired * 4) rnd.shuffle(known).take(desired * 4)
      else known
    val base =
      if (sampled.isEmpty) randomEdges(triangularNumber(n), desired, rnd)
      else addRandomEdges(rnd.shuffle(sampled), desired, maxSmall, rnd)
    val weighted = base.map(e =>
      if (e.w.isNaN) e.copy(w = classify(e.l, e.r)) else e)
    greedyCluster(n, weighted)
  }

  /** Refine one cluster: members indexed 0..n-1, `known` carries signed
    * classification weights for already-scored pairs (NaN layout from the
    * weight matrix), `classify` recomputes missing pairs. Returns the
    * partition labels; clusters of size <= 2 pass through unchanged
    * (ref `refineCluster`, :242-250).
    *
    * `known` is put in (l, r, w) order first: [[refineAll]] builds it from
    * a cogroup iterator whose order follows the physical plan, and the seeded
    * shuffles in [[refineBig]] (like last-wins duplicate weights below)
    * would otherwise turn that order into different labels.
    */
  def refineCluster(n: Int, known: List[WEdge], classify: (Int, Int) => Double,
                    maxSmall: Int, seed: Long): Array[Int] = {
    val edges = known.sortBy(e => (e.l, e.r, e.w))(
      Ordering.Tuple3(Ordering.Int, Ordering.Int, Ordering.Double.TotalOrdering))
    if (n <= 2) Array.fill(n)(0)
    else if (n > maxSmall) refineBig(n, edges, classify, maxSmall, seed)
    else {
      val w = Array.fill(n, n)(Double.NaN)
      edges.foreach(e => w(math.min(e.l, e.r))(math.max(e.l, e.r)) = e.w)
      refineSmall(n, w, classify)
    }
  }
}
