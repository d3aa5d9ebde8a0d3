package graft.cluster

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Connected components over DUPLICATE edges — the scale re-expression of
  * the reference's incremental in-memory transitive closure (bakdata/dedupe
  * `common/dedupe/clustering/TransitiveClosure.java:52-140`, whose
  * id->cluster map grows unboundedly on the heap).
  *
  * Hybrid: distributed rounds run only while the edge set is larger than
  * [[LocalEdges]]; once a count shows it fits (the round-0 count, or the
  * count each round's convergence signature already pays), the edge set is
  * collected and a union-find on the driver finishes it — the reference's
  * in-memory closure, bounded. A graph under the bound costs two jobs
  * (count + collect); a large graph whose near-cliques collapse to stars
  * hands its converged tail to the driver instead of paying one more
  * round to detect convergence.
  *
  * Distributed rounds: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — O(log n)
  * rounds even on path graphs, each round two shuffles (groupBy min +
  * join). Each round is rebased onto its own execution RDD (`rebaseOnRdd`)
  * and that RDD is persisted: the rebase cuts the plan (a fixpoint loop
  * would otherwise grow an unbounded plan) and adds no job of its own.
  *
  * Both paths give the same rows: cluster id = min member id under Spark's
  * ordering of the id type (UTF-8 byte order for strings) — deterministic
  * and order-independent, unlike the reference's counter ids
  * (`ClusterIdGenerators.java:36-59`, SURVEY.md §7.5 risk 1).
  */
object ConnectedComponents {

  /** Edge count at or below which the driver finishes the components —
    * sized like `Blocking.substringPairs`' collect guard: 2^20 edges of two
    * ids is tens of MB of driver heap at most.
    */
  val LocalEdges: Long = 1L << 20

  /** What one [[run]] paid: distributed rounds (0 when the input already
    * fit the bound) and the edges the driver finished (0 when the rounds
    * ran to convergence without ever fitting).
    */
  final case class Stats(distributedRounds: Int, driverEdges: Long)

  /** @param edges DataFrame with two columns (src, dst) of one orderable
    *              type (long or string). Self-loops ignored.
    * @param minIter rounds to run before paying for convergence checks.
    *        The signature agg is one cheap job; computing it from round 1
    *        lets dense dedup graphs (near-cliques collapse to a star in one
    *        alternating round) exit after 2 rounds instead of paying an
    *        extra ~6-shuffle round to discover convergence later
    * @param localEdges driver-finish bound, [[LocalEdges]] outside tests
    *        (0 forces the distributed rounds on any non-empty graph)
    * @param onStats receives this run's [[Stats]] before it returns
    * @return DataFrame (id, cluster_id) for every node incident to an edge;
    *         callers union isolated records back as singletons.
    */
  def run(edges: DataFrame, maxIter: Int = 30, minIter: Int = 1,
          localEdges: Long = LocalEdges, onStats: Stats => Unit = _ => ()): DataFrame = {
    val spark = edges.sparkSession
    // AQE off for the whole run: with AQE on, `rebaseOnRdd` would run the
    // round-0 distinct as its own job at rebase time, and in the rounds
    // every tiny shuffle becomes its own stage-job (observed ~8 extra
    // driver-latency-bound jobs per round). Skew is handled by the
    // large-star/small-star decomposition itself (high-degree nodes shed
    // neighbors to their minimum each round), so AQE's skew splitting buys
    // nothing here. Restored afterwards.
    val aqeKey = "spark.sql.adaptive.enabled"
    val partsKey = "spark.sql.shuffle.partitions"
    val aqeWas = spark.conf.get(aqeKey, "true")
    val partsWas = spark.conf.get(partsKey)
    spark.conf.set(aqeKey, "false")
    try runLoop(edges, maxIter, minIter, localEdges, onStats)
    finally {
      spark.conf.set(aqeKey, aqeWas)
      spark.conf.set(partsKey, partsWas)
    }
  }

  private def runLoop(edges: DataFrame, maxIter: Int, minIter: Int,
                      localEdges: Long, onStats: Stats => Unit): DataFrame = {
    val spark = edges.sparkSession
    val Seq(srcC, dstC) = edges.columns.toSeq.take(2)
    // canonical undirected edge set, u > v convention dropped; keep (u, v) pairs u != v
    //
    // Per-round plan truncation: each round references the previous round's
    // frame twice, so the logical TREE is 2^k-sized after k rounds (plans
    // hang in stringification/analysis long before data size matters).
    // `rebaseOnRdd` rebases the round on its execution RDD — a one-node
    // LogicalRDD plan — and the RDD is persisted so the round computes
    // once; unlike per-round localCheckpoint this adds NO extra jobs.
    val (e0, rdd0) = GraftColumnBridge.rebaseOnRdd(
      edges
        .select(col(srcC).as("u"), col(dstC).as("v"))
        .where(col("u") =!= col("v"))
        .distinct())
    rdd0.persist(StorageLevel.MEMORY_AND_DISK)
    val n0 = e0.count()
    if (n0 <= localEdges) return finishLocally(e0, Seq(rdd0), 0, onStats)
    // Size the LOOP's shuffles to the edge set, not the session default:
    // each round is a chain of shuffles over a frame that is usually tiny
    // relative to the session's shuffle.partitions (a 5k-edge set at 32
    // partitions = 8 rounds x ~10 stages x 32 near-empty tasks — profiled
    // as pure scheduling overhead, run time 7x the CPU time). One
    // materializing count on the already-persisted round-0 RDD picks
    // ~20k edges/partition, floored at 1 and capped at the session value
    // so huge edge sets keep full parallelism (restored by run()).
    val partsWas = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val loopParts = math.max(1L, math.min(partsWas.toLong, n0 / 20000L + 1L)).toInt
    spark.conf.set("spark.sql.shuffle.partitions", loopParts.toString)
    var e = e0
    var eRdd: RDD[InternalRow] = rdd0

    var converged = false
    var iter = 0
    // convergence signature of the current edge set; carried across
    // iterations so each round pays ONE aggregate action, not two
    def sigOf(df: DataFrame) = df.agg(
      count(lit(1)).as("n"),
      coalesce(expr("bit_xor(xxhash64(cast(u as string), cast(v as string)))"), lit(0L)).as("h"))
      .head()
    var prevSig: org.apache.spark.sql.Row = null
    while (!converged && iter < maxIter) {
      // ---- large-star: for each u, connect every neighbor v > u to
      //      m = min(N(u) ∪ {u})
      val adj = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val mins = adj.groupBy("u").agg(min(col("v")).as("_mv"))
        .select(col("u"), least(col("u"), col("_mv")).as("m"))
      // no distinct here: duplicate (u, m) rows are harmless to the
      // small-star min-aggregations and the final distinct — dropping the
      // dedup saves one shuffle per round
      val large = adj.join(mins, Seq("u"))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))

      // ---- small-star: for each u over neighbors v <= u (v < u since no
      //      self-loops), connect them all (and u) to m = min(N<(u) ∪ {u})
      val adj2 = large.unionAll(large.select(col("v").as("u"), col("u").as("v")))
      val smallNbr = adj2.where(col("v") < col("u"))
      val smins = smallNbr.groupBy("u").agg(min(col("v")).as("m"))
      val small0 = smallNbr.join(smins, Seq("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .unionAll(smins.select(col("u").as("a"), col("m").as("b")))
        .where(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("v"), greatest(col("a"), col("b")).as("u"))
        .select(col("u"), col("v"))
        .distinct()
      val (small, smallRdd) = GraftColumnBridge.rebaseOnRdd(small0)
      smallRdd.persist(StorageLevel.MEMORY_AND_DISK)
      iter += 1

      if (iter >= minIter) {
        val sig = sigOf(small) // materializes this round's RDD cache
        if (sig.getLong(0) <= localEdges)
          return finishLocally(small, Seq(eRdd, smallRdd), iter, onStats)
        converged = sig == prevSig
        prevSig = sig
      }
      eRdd.unpersist(false)
      e = small
      eRdd = smallRdd
    }
    onStats(Stats(iter, 0L))

    // The final round's RDD must stay persisted until the CALLER materializes
    // the assignment (the result below is lazy), so it can't be released
    // here. Bound the leak to one live RDD per context instead: the next
    // distributed run in the same SparkContext unpersists the previous
    // run's final RDD (its lineage stays recomputable, so a still-cached
    // consumer frame remains correct, just slower on a cold re-read).
    val prevFinal = lastFinal.put(spark.sparkContext.applicationId, eRdd)
    if ((prevFinal ne null) && (prevFinal ne eRdd))
      scala.util.Try(prevFinal.unpersist(false))

    // after convergence e is a star forest: (bigger -> component min)
    val members = e.select(col("u").as("id"), col("v").as("cluster_id"))
    val roots = e.select(col("v").as("id"), col("v").as("cluster_id")).distinct()
    members.unionAll(roots)
      .groupBy("id").agg(min(col("cluster_id")).as("cluster_id"))
  }

  /** Last fixpoint-final RDD per SparkContext — see the release note in
    * [[runLoop]].
    */
  private val lastFinal =
    new java.util.concurrent.ConcurrentHashMap[String, RDD[InternalRow]]()

  /** The driver finish: collect the (persisted) edge frame `e` in one job,
    * release every RDD the run persisted, and return the components as a
    * driver-built frame (a LocalRelation, so joins against it can
    * broadcast).
    */
  private def finishLocally(e: DataFrame, persisted: Seq[RDD[InternalRow]], rounds: Int,
                            onStats: Stats => Unit): DataFrame = {
    val idType = e.schema("u").dataType
    require(e.schema("v").dataType == idType,
      s"edge endpoints must share one type: ${e.schema.simpleString}")
    val rows = e.queryExecution.executedPlan.executeCollect()
    persisted.foreach(_.unpersist(false))
    onStats(Stats(rounds, rows.length.toLong))
    GraftColumnBridge.localFrame(e.sparkSession,
      StructType(Seq(StructField("id", idType), StructField("cluster_id", idType))),
      localComponents(rows, idType))
  }

  /** Union-find over collected (u, v) edge rows: one (id, cluster_id) row
    * per incident node, the cluster id being the component's minimum
    * under `PhysicalDataType.ordering(idType)` — the order the distributed
    * rounds' `min`/`least` use (UTF-8 bytes for strings, not
    * `java.lang.String.compareTo`).
    */
  private def localComponents(edges: Array[InternalRow], idType: DataType): Seq[InternalRow] = {
    val ord = PhysicalDataType.ordering(idType)
    // at most two new nodes per edge
    val index = new java.util.HashMap[Any, Integer](4 * edges.length)
    val ids = new Array[Any](2 * edges.length)
    val parent = new Array[Int](2 * edges.length)
    var n = 0
    def node(v: Any): Int = {
      val i = index.get(v)
      if (i ne null) i.intValue
      else { index.put(v, n); ids(n) = v; parent(n) = n; n += 1; n - 1 }
    }
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x // path compression
      while (parent(y) != r) { val next = parent(y); parent(y) = r; y = next }
      r
    }
    edges.foreach { row =>
      val a = find(node(row.get(0, idType)))
      val b = find(node(row.get(1, idType)))
      if (a != b) parent(a) = b
    }
    val minOf = Array.fill(n)(-1)
    (0 until n).foreach { i =>
      val r = find(i)
      if (minOf(r) < 0 || ord.lt(ids(i), ids(minOf(r)))) minOf(r) = i
    }
    (0 until n).map(i => InternalRow(ids(i), ids(minOf(find(i)))))
  }

  /** Incremental re-clustering: union the previous assignment (as
    * member->cluster_id star edges) with the new DUPLICATE edges before CC —
    * previously-emitted clusters stay connected, so their ids remain stable
    * unless new evidence merges them. This is the batch re-expression of the
    * reference's ConsistentClustering guarantee
    * (`common/dedupe/clustering/ConsistentClustering.java:60-116`,
    * SURVEY.md §2.5): never split an already-emitted cluster.
    */
  def incrementalAssign(records: DataFrame, idCol: String,
                        prevAssign: DataFrame, newEdges: DataFrame): DataFrame = {
    val prevEdges = prevAssign
      .select(col("id").as("src"), col("cluster_id").as("dst"))
      .where(col("src") =!= col("dst"))
    val Seq(s, d) = newEdges.columns.toSeq.take(2)
    assignAll(records, idCol,
      newEdges.select(col(s).as("src"), col(d).as("dst")).unionAll(prevEdges))
  }

  /** Daily-increment delta re-clustering — [[incrementalAssign]] restricted
    * to the TOUCHED neighborhood, the shape a 100 TB corpus runs per batch:
    * CC never re-walks the standing graph, and the standing assignment
    * table is NEVER shuffled (gated by PlanSpec) — it streams map-side
    * through broadcast joins against delta-sized frames.
    *
    *  1. affected = standing clusters containing any new-edge endpoint
    *     (tiny: bounded by the batch's candidate fan-out);
    *  2. the delta subgraph = affected clusters' member->cluster star
    *     edges + the new verified edges; CC runs on THAT (delta-sized);
    *  3. stable-id remap: a delta component takes the MINIMUM standing
    *     cluster id among its members when one exists (previously-emitted
    *     ids survive; a merge keeps the smaller of the merged ids — the
    *     reference's ConsistentClustering guarantee,
    *     `common/dedupe/clustering/ConsistentClustering.java:60-116`, even
    *     when a new record's raw id undercuts the old cluster id), else
    *     its min member id (brand-new cluster);
    *  4. untouched standing rows pass through unchanged (broadcast
    *     anti-join — map-side).
    *
    * @param prevAssign standing (id, cluster_id) assignment
    * @param newIds     batch record ids (absent from prevAssign)
    * @param newEdges   verified duplicate pairs with >= 1 batch endpoint
    * @return (id, cluster_id, status) over batch ∪ corpus —
    *         status: 'batch' (new record), 'stable' (standing id kept),
    *         'merged' (standing cluster absorbed into a smaller id)
    */
  def incrementalAssignDelta(prevAssign: DataFrame, newIds: DataFrame,
                             newEdges: DataFrame): DataFrame = {
    val Seq(c1, c2) = newEdges.columns.toSeq.take(2)
    val edges = newEdges.select(col(c1).as("src"), col(c2).as("dst"))
    val endpoints = edges.select(col("src").as("id"))
      .unionAll(edges.select(col("dst").as("id"))).distinct()
    // standing-table discipline: every join against prevAssign broadcasts
    // the OTHER (delta-sized) side, so the big table only streams
    val aff = broadcast(
      prevAssign.join(broadcast(endpoints), Seq("id")).select(col("cluster_id")).distinct())
    val affMembers = prevAssign.join(aff, Seq("cluster_id"))
      .select(col("id"), col("cluster_id"))
    val star = affMembers.where(col("id") =!= col("cluster_id"))
      .select(col("id").as("src"), col("cluster_id").as("dst"))
    val nodes = newIds.select(col("id")).unionAll(affMembers.select(col("id")))
    val sub = assignAll(nodes, "id", star.unionAll(edges))
      .select(col("id"), col("cluster_id").as("cc_id"))
    // previous cluster ids of delta members (inner: batch ids drop out) —
    // broadcast the delta side, stream the standing table
    val subPrev = broadcast(sub)
      .join(prevAssign.select(col("id"), col("cluster_id").as("prev_cid")), Seq("id"))
    val remap = subPrev.groupBy(col("cc_id")).agg(min(col("prev_cid")).as("stable_id"))
    val delta = sub
      .join(broadcast(remap), Seq("cc_id"), "left")
      .join(broadcast(subPrev.select(col("id"), col("prev_cid"))), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("stable_id"), col("cc_id")).as("cluster_id"),
        when(col("prev_cid").isNull, "batch")
          .when(coalesce(col("stable_id"), col("cc_id")) === col("prev_cid"), "stable")
          .otherwise("merged").as("status"))
    val untouched = prevAssign.join(aff, Seq("cluster_id"), "left_anti")
      .select(col("id"), col("cluster_id"), lit("stable").as("status"))
    delta.unionByName(untouched)
  }

  /** Assignment for all records: CC over edges, singletons map to
    * themselves — clusters partition the dataset, matching the reference's
    * contract (`Cluster.java:38-44`, SURVEY.md §7.1.3).
    */
  def assignAll(records: DataFrame, idCol: String, edges: DataFrame,
                onStats: Stats => Unit = _ => ()): DataFrame = {
    val assigned = run(edges, onStats = onStats)
    // fresh aliases on the way out: the output must not re-expose the input
    // relation's attributes (self-join ambiguity when callers join the
    // assignment back to the same records)
    records.select(col(idCol).as("id"))
      .join(assigned, Seq("id"), "left")
      .select(col("id").as("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
      .toDF("id", "cluster_id")
  }
}
