package graft.block

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.SigExprs
import graft.model.DedupConfig
import graft.sig.Signatures

/** Candidate selection (blocking) — replaces the reference's only join
  * strategy, the in-memory multi-pass sorted-neighborhood index
  * (bakdata/dedupe `common/.../OnlineSortedNeighborhoodMethod.java:64-189`),
  * with shuffle-friendly key-equality blocking passes.
  *
  * Each pass produces canonical candidate pairs (id1 < id2); the union of
  * passes is deduplicated BEFORE expensive verification — same placement as
  * the reference's cross-pass `.distinct()`
  * (`OnlineSortedNeighborhoodMethod.java:81`, SURVEY.md §4).
  *
  * Scale notes (100 TB): every pass is `explode -> shuffle on key ->
  * within-bucket pairing`; the quadratic within-bucket cost is bounded by
  * `maxBucketSize` (pathological keys are dropped and counted — salting
  * cannot help a key whose *pairing* is quadratic; AQE handles residual
  * shuffle skew). Only ids and small keys shuffle — never payloads.
  */
object Blocking {

  /** Canonical pairing from an (id, key) inverted index: self-join on key,
    * id1 < id2, de-duplicated across keys/passes.
    *
    * @param keyed DataFrame with columns (id, key)
    * @param maxBucketSize drop keys whose bucket exceeds this (skew guard);
    *                      None = unbounded (used by oracle-mirrored queries)
    */
  def pairsFromKeys(keyed: DataFrame, maxBucketSize: Option[Int] = None): DataFrame =
    bucketPairRows(keyed, maxBucketSize).distinct()

  /** Like [[pairsFromKeys]], but emits per-pair SHARED-KEY COUNTS
    * (id1, id2, n_shared) instead of the distinct pair set — the
    * partial-overlap strength signal (shared winnowing fingerprints,
    * shared chunks). Same single-shuffle bucket shape, same cap
    * semantics; a pair contributes one count per capped bucket it
    * co-occurs in, rolled up by a partial-combined aggregate.
    */
  def pairsFromKeysCounted(keyed: DataFrame,
                           maxBucketSize: Option[Int] = None): DataFrame =
    bucketPairRows(keyed, maxBucketSize)
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("n_shared"))

  /** Shared bucket/pair-expansion core of [[pairsFromKeys]] (distinct) and
    * [[pairsFromKeysCounted]] (count roll-up): one (id1, id2) row per
    * co-occurrence of a pair inside a capped key bucket.
    *
    * ONE shuffle: group ids per key, pair within the bucket. (A self-join
    * on key computes the same pair set but costs a count shuffle for the
    * cap plus a join shuffle; measured ~2x slower.) Buckets above the cap
    * are dropped whole — their pairing cost is quadratic and their
    * selectivity is near zero (skew guard; SURVEY.md §7.5 risk 2).
    */
  private def bucketPairRows(keyed: DataFrame,
                             maxBucketSize: Option[Int]): DataFrame =
    pairRowsFromBuckets(
      keyed.groupBy("key").agg(collect_list(col("id")).as("ids")), maxBucketSize)

  /** Pair expansion over a PRE-GROUPED bucket frame (key, ids) — for
    * callers that already hold the buckets (e.g. because per-id counts are
    * derived from the same grouped frame; one shuffle feeds both).
    */
  def pairRowsFromBuckets(buckets: DataFrame,
                          maxBucketSize: Option[Int]): DataFrame = {
    val capped = maxBucketSize match {
      case Some(cap) => size(col("ids")).between(2, cap)
      case None => size(col("ids")) >= 2
    }
    // pair expansion: i<j index pairs, canonicalized (min, max) and with
    // equal ids dropped — matching the oracle's `a.doc_id < b.doc_id` — by
    // one codegen'd generator for long and string ids alike
    buckets.where(capped).select(SigExprs.bucketPairs(col("ids")))
  }

  /** Skew observability: per-pass bucket statistics — how many keys, how
    * many buckets the cap drops, and how many within-bucket pairs that
    * forfeits (the "dropped pairs counted in metrics" requirement;
    * SURVEY.md §7.5 risk 2).
    */
  def bucketStats(keyed: DataFrame, cap: Int): DataFrame =
    keyed.groupBy("key").agg(count(lit(1)).as("n"))
      .agg(
        count(lit(1)).as("n_buckets"),
        sum(when(col("n") > cap, 1L).otherwise(0L)).as("n_dropped_buckets"),
        sum(when(col("n") > cap, (col("n") * (col("n") - 1) / 2).cast("long")).otherwise(0L))
          .as("pairs_dropped"),
        max(col("n")).as("max_bucket"))

  /** Star pairing for keys whose equality PROVES duplication (exact content
    * hash): emit (min_id, other) per bucket instead of all C(n,2) pairs —
    * transitive closure yields the identical cluster from n-1 edges. A
    * 2500-copy bucket costs 2499 pairs instead of 3.1M. Only valid when
    * verification cannot reject a bucket pair. A null key (no content) is
    * no key, as in the reference (`OnlineSortedNeighborhoodMethod.java:122-124`).
    */
  def starPairsFromKeys(keyed: DataFrame): DataFrame =
    keyed.where(col("key").isNotNull).groupBy("key")
      .agg(min(col("id")).as("rep"), collect_list(col("id")).as("ids"))
      .where(size(col("ids")) >= 2)
      .select(col("rep"), explode(col("ids")).as("other"))
      .where(col("rep") =!= col("other"))
      .select(col("rep").as("id1"), col("other").as("id2"))
      .distinct()

  /** Packed bit-block keys as pure Column arithmetic: key for block i of
    * hash h is `(tag << 62) | (i << 52) | ((h >>> i*per) & mask)` — exact
    * (injective per pass), no hashing, no strings. Requires per <= 52 and
    * tag in 1..3 (tag 0 is the hashed-LSH-key namespace).
    */
  private def packedBitBlockKeys(hCol: Column, blocks: Int, totalBits: Int, tag: Long): Column = {
    val per = totalBits / blocks
    require(per <= 52 && tag >= 1 && tag <= 3, s"packed key layout overflow: per=$per tag=$tag")
    val mask = (1L << per) - 1
    array((0 until blocks).map { i =>
      lit((tag << 62) | (i.toLong << 52))
        .bitwiseOR(shiftrightunsigned(hCol, i * per).bitwiseAND(lit(mask)))
    }: _*)
  }

  /** The three hash-keyed blocking passes of the flagship as named (id,
    * key) frames with 8-byte LONG keys: hashed LSH band keys ("lsh",
    * 58-bit, high tag bits 0), packed simhash blocks ("simhash", tag 1),
    * packed phash blocks ("phash", tag 2). The namespaces are disjoint by
    * construction, so the passes can share one key space. This is the
    * only place the key layout is built: the pipeline pairs their union
    * ([[keyedUnion]]) and the skew reports bucket each pass on its own.
    * A null feature (a null caption's simhash, a null phash) gives null
    * keys, which are dropped: null is never a blocking key.
    */
  def keyedPasses(feats: DataFrame, cfg: DedupConfig): Seq[(String, DataFrame)] = {
    val sig = Signatures.minHashFromIntHashesCol(col("shs"), cfg)
    def keyed(keys: Column) =
      feats.select(col("id"), explode(keys).as("key")).where(col("key").isNotNull)
    Seq(
      "lsh" -> keyed(Signatures.bandHashKeysCol(sig, cfg.bands)),
      "simhash" -> keyed(packedBitBlockKeys(col("simhash"),
        cfg.simhashBits / cfg.simhashBandBits, cfg.simhashBits, 1L)),
      "phash" -> keyed(packedBitBlockKeys(col("phash"), cfg.phashBlocks, 64, 2L)))
  }

  /** Union of the [[keyedPasses]] as ONE (id, key) index: buckets never mix
    * across passes, so one downstream groupBy pairs all three passes in a
    * single shuffle, moving 8 bytes per key instead of a ~30-char string.
    */
  def keyedUnion(feats: DataFrame, cfg: DedupConfig): DataFrame =
    keyedPasses(feats, cfg).map(_._2).reduce(_ unionAll _)

  /** Bit-block (pigeonhole) blocking pass for Hamming-close 64-bit hashes
    * (phash / simhash): two hashes within Hamming distance blocks-1 share at
    * least one identical block key.
    */
  def bitBlockPairs(records: DataFrame, idCol: String, hashCol: String,
                    blocks: Int, totalBits: Int, cap: Option[Int] = None): DataFrame = {
    val keyed = records.select(
      col(idCol).as("id"),
      explode(Signatures.bitBlockKeysCol(col(hashCol), blocks, totalBits)).as("key"))
    pairsFromKeys(keyed, cap)
  }

  /** Sorted-neighborhood pass, offline semantics: order all records by
    * (key, id) and pair each record with its w-1 predecessors — the
    * reference's offline guarantee of w-1 comparisons/record
    * (`OnlineSortedNeighborhoodMethod.java:57-58`). Null keys are skipped,
    * as in the reference (:122-124).
    *
    * This oracle-facing variant uses a global window (single-partition
    * sort) — correct at test scale; `snmPairsScalable` is the
    * range-partitioned scale path.
    */
  def snmPairs(records: DataFrame, idCol: String, keyCol: Column, window: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    if (window < 2) return snmPairsScalable(records, idCol, keyCol, window)
    val w = Window.orderBy(col("key"), col("id"))
    val base = records.select(col(idCol).as("id"), keyCol.as("key")).where(col("key").isNotNull)
    val withLags = (1 until window).foldLeft(base) { (df, i) =>
      df.withColumn(s"_p$i", lag(col("id"), i).over(w))
    }
    val pairs = (1 until window).map { i =>
      withLags.select(col("id"), col(s"_p$i").as("other")).where(col("other").isNotNull)
    }.reduce(_ unionAll _)
    pairs.select(
        least(col("id"), col("other")).as("id1"),
        greatest(col("id"), col("other")).as("id2"))
      .distinct()
  }

  /** Scale path for SNM — identical pair set to [[snmPairs]], no
    * single-partition WindowExec anywhere in the plan:
    *
    *  1. distributed sort by (key, id): `repartitionByRange` +
    *     `sortWithinPartitions` (Spark's normal parallel sort);
    *  2. global rank without a global window: `zipWithIndex` (partition
    *     sizes are counted once; ranks = partition offset + local index —
    *     one extra lightweight job, no data movement);
    *  3. each row probes its (window-1) successors by rank: explode the
    *     target ranks, equi-join on rank (shuffle hash/sort-merge join —
    *     fully parallel).
    *
    * The id keeps its original type, so callers' oracle type parity is
    * unchanged. Self-pairs are impossible (probed ranks differ from own).
    */
  def snmPairsScalable(records: DataFrame, idCol: String, keyCol: Column,
                       window: Int, numPartitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = records.sparkSession
    // degenerate window: w-1 = 0 comparisons per record — return an empty
    // pair frame instead of letting sequence(rn+1, rn+0) run DESCENDING
    // (which would probe self + successor and fabricate pairs)
    if (window < 2) {
      val idField = records.select(col(idCol)).schema.head
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        StructType(Seq(idField.copy(name = "id1"), idField.copy(name = "id2"))))
    }
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val base = records.select(col(idCol).as("id"), keyCol.as("key"))
      .where(col("key").isNotNull)
      .repartitionByRange(parts, col("key"), col("id"))
      .sortWithinPartitions(col("key"), col("id"))
    val idField = base.schema("id")
    val indexed = spark.createDataFrame(
      base.select(col("id")).rdd.zipWithIndex.map { case (r, i) => Row(r.get(0), i) },
      StructType(Seq(idField.copy(name = "id"), StructField("rn", LongType, nullable = false))))
    val probes = indexed.select(col("id").as("other"),
      explode(sequence(col("rn") + 1, col("rn") + (window - 1))).as("rn"))
    indexed.join(probes, Seq("rn"))
      .select(least(col("id"), col("other")).as("id1"),
        greatest(col("id"), col("other")).as("id2"))
      .distinct()
  }

  /** The substring pass's probes as an (id, key) index: each record of at
    * least `k` characters probes with its first k-gram. Keys are xxhash64
    * of the k-gram, not the k-gram string: the index side explodes ~|text|
    * keys per record, so hashing cuts the shuffled key bytes and replaces
    * string-compare joins with long joins. A hash collision only adds a
    * candidate; [[substringPairs]] verifies containment exactly.
    */
  def substringProbes(records: DataFrame, idCol: String, normCol: String, k: Int): DataFrame =
    records.where(length(col(normCol)) >= k).select(col(idCol).as("id"),
      Signatures.fastHashCol(substring(col(normCol), 1, k)).as("key"))

  /** Substring-containment pass: pairs (A, B) where A's normalized text is a
    * verbatim substring of B's (the north_star's "suffix-array substring
    * pass" for caption-substring duplicates). Distributed form: index B by
    * every k-gram, probe with A's first k-gram ([[substringProbes]]), verify
    * containment — the inverted-index equivalent of a suffix scan,
    * expressible as joins so Catalyst plans the shuffle.
    */
  def substringPairs(records: DataFrame, idCol: String, normCol: String, k: Int,
                     cap: Option[Int] = None,
                     maxCollectedKeys: Int = 16000000): DataFrame = {
    val probe0 = substringProbes(records, idCol, normCol, k).withColumnRenamed("id", "pid")
    // skew guard: a prefix key probed by more than `cap` records makes the
    // bucket join quadratic — drop it (counted by callers via metrics: the
    // checkpoint skew sidecar's "substring" entry buckets these probes)
    val probe = cap match {
      case Some(c) =>
        val counts = probe0.groupBy("key").agg(count(lit(1)).as("_n"))
        probe0.join(counts.where(col("_n") <= c), Seq("key")).drop("_n")
      case None => probe0
    }
    // The index is (iid, key) ONLY: texts re-attach by id AFTER the key
    // join, on the much smaller candidate set (carrying them through the
    // exploded rows: measured 10 s -> ~2 s at sf0.1). While the key set fits
    // (below), nor does it materialize the ~|corpus|·|text| k-gram rows: the probe-key
    // set (one 8-byte key per record) is collected sorted to the driver and
    // pushed INTO KeysInSortedSet, whose merge scan emits only each
    // document's MATCHING keys (measured 9.7 s -> ~2 s at sf0.1) — the
    // broadcast-build side of a hash join as an expression. A (p, i) pair
    // matches at most once: p's probe key is its single first k-gram and
    // index keys are distinct per document.
    //
    // Driver-memory guard: the collect is bounded by `maxCollectedKeys`
    // (LIMIT max+1 — ONE job detects overflow AND fetches the set, and the
    // driver never holds more than max+1 longs). Past the bound — a 10^12-
    // row corpus with a large short-text fraction would be ~TBs of keys —
    // the pass switches to the fully-distributed inverted-index join: every
    // k-gram explodes and shuffle-joins against the probe keys. Same pair
    // set (gated by OpsSpec "substring fallback" pair-set equality), no
    // driver state; it trades the merge-scan pruning for shuffle, which is
    // the right trade only when the build side stops fitting.
    val probeKeyRows = probe.select(col("key")).distinct()
      .limit(maxCollectedKeys + 1).collect()
    val collected = probeKeyRows.length <= maxCollectedKeys
    val shingles = Signatures.hashedShinglesCol(col(normCol), k)
    val index = records.select(col(idCol).as("iid"), explode(
      if (collected) graft.functions.KeysInSortedSet(shingles, probeKeyRows.map(_.getLong(0)).sorted)
      else shingles).as("key"))
    (if (collected) broadcast(probe) else probe)
      .join(index, Seq("key"))
      .where(col("pid") =!= col("iid"))
      .join(records.select(col(idCol).as("pid"), col(normCol).as("ptext")), Seq("pid"))
      .join(records.select(col(idCol).as("iid"), col(normCol).as("itext")), Seq("iid"))
      .where(length(col("ptext")) <= length(col("itext")) &&
        expr("instr(itext, ptext) > 0"))
      .select(
        least(col("pid"), col("iid")).as("id1"),
        greatest(col("pid"), col("iid")).as("id2"))
      .distinct()
  }
}
