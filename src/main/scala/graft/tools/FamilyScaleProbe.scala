package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Bench
import graft.tools.Probe.timed

/** Round-4-family scale probe (VERDICT r4 task 4): the winnow fingerprint
  * index, the DBSCAN ε-graph (semantic pair stage), CDC chunking, and the
  * audio/video signature-Jaccard index have constants measured only at
  * sf0.1 (n=5000). This probe runs each family at TWO order-of-magnitude
  * scales (default 250k and 1M rows) on deterministically generated
  * corpora with planted duplicates and reports, per family and scale:
  * wall seconds, index rows, kept/dropped buckets, max kept bucket,
  * within-bucket candidate pair rows, output rows, and planted-pair
  * recall — plus candidate growth ratios (candidates(n2)/candidates(n1)
  * vs n2/n1): a family whose candidates grow ~linearly survives the
  * 100 TB extrapolation; one that grows quadratically gets the
  * dd_winnow_pairs df-filter treatment.
  *
  * The ε-pair stage runs the parameterized SCALE config (cells ∝ n:
  * `Embeddings.semanticPairs(numCells = n/256)`) rather than the
  * catalog's 16-cell oracle anchor — 16 cells at n=1M would be 16
  * quadratic 62k-member buckets by construction; the probe measures the
  * config production would run.
  *
  * Output: see [[Probe]].
  *
  * Usage: runMain graft.tools.FamilyScaleProbe [n1] [n2] [cores]
  */
object FamilyScaleProbe {

  private val vocab = Vector("the", "fast", "key", "order", "sort", "table",
    "scan", "merge", "part", "window", "small", "hash", "join", "batch",
    "stream", "spark", "dup", "node", "graph", "edge")

  /** Deterministic stateless mix (splitmix-style). */
  private def mix(x0: Long): Long = {
    var x = x0 + -7046029254386353131L
    x = (x ^ (x >>> 30)) * -4658895280553007687L
    x = (x ^ (x >>> 27)) * -7723592293110705685L
    x ^ (x >>> 31)
  }

  def docText(i: Long): String = {
    // planted near-dup: every 100th doc copies its predecessor with one
    // appended word (same corpus-common 20-word vocabulary as the sf
    // shape — the winnow-hostile distribution)
    val base = if (i % 100 == 99) i - 1 else i
    val words = 80 + ((mix(base) >>> 33) % 41).toInt
    val sb = new StringBuilder(words * 6)
    var j = 0
    while (j < words) {
      if (j > 0) sb.append(' ')
      sb.append(vocab(((mix(base * 1000003L + j) >>> 33) % vocab.size).toInt))
      j += 1
    }
    // 4 per-doc entity tokens (ids/names — the Heaps-law rare tail every
    // real corpus has; a 20-word closed vocabulary at n=1M would make
    // EVERY gram corpus-common, which no natural text does): planted
    // copies share them, so near-dup evidence survives any df filter
    var t = 0
    while (t < 4) {
      sb.append(" e").append(java.lang.Long.toHexString(mix(base * 17L + t) >>> 20))
      t += 1
    }
    if (i % 100 == 99) sb.append(" altered")
    sb.toString
  }

  def embedding(i: Long, dim: Int): Array[Float] = {
    // clustered unit vectors: 64-member clusters, intra-cluster cosine
    // ≈ 1/(1+λ²) ≈ 0.34 (below the ε=0.4 threshold), planted twin every
    // 100th member at cosine ≈ 0.999
    val base = if (i % 100 == 99) i - 1 else i
    val cluster = base / 64
    def unit(seed: Long): Array[Double] = {
      val v = Array.tabulate(dim)(d => mix(seed * 131L + d).toDouble / Long.MaxValue)
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val c = unit(0x5eedL + cluster)
    val u = unit(0xfeedL + base)
    val lambda = 1.4
    val raw = Array.tabulate(dim)(d => c(d) + lambda * u(d))
    val jit =
      if (i % 100 == 99) {
        val t = unit(0xabcdefL + i)
        Array.tabulate(dim)(d => raw(d) + 0.05 * t(d))
      } else raw
    val n = math.sqrt(jit.map(x => x * x).sum)
    jit.map(x => (x / n).toFloat)
  }

  /** 16 signature keys per item (the audio/video per-window sums' shape):
    * 12 content keys from an n-sized pool + 4 corpus-common keys from a
    * 64-value pool (the caps' work); a planted dupe copies 14 of its
    * base's 16 keys (jaccard 14/18 ≈ 0.78).
    */
  def sigKeys(i: Long): Seq[Long] = {
    val base = if (i % 100 == 99) i - 1 else i
    val content = (0 until 12).map(j => mix(base * 7919L + j) >>> 12)
    val common = (12 until 16).map(j => (mix(base * 104729L + j) >>> 33) % 64)
    if (i % 100 == 99)
      content.take(10) ++ common.take(2) ++
        (0 until 4).map(j => mix(i * 31337L + j) >>> 12) // 4 novel keys
    else content ++ common
  }

  private def ensureCorpus(spark: SparkSession, n: Long, dim: Int): String = {
    val dir = s"/tmp/graft_family_probe_$n"
    import spark.implicits._
    Probe.cached(s"$dir/documents.parquet") { path =>
      spark.range(n).map(i => (i, docText(i))).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(path)
    }
    Probe.cached(s"$dir/embeddings.parquet") { path =>
      spark.range(n).map(i => (i, embedding(i, dim))).toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(path)
    }
    dir
  }

  /** Planted truth: (i-1, i) for every i ≡ 99 (mod 100) below n. */
  private def plantedRecall(spark: SparkSession, pairs: DataFrame, n: Long): Double = {
    import spark.implicits._
    val truth = spark.range(n).where(col("id") % 100 === 99)
      .select((col("id") - 1).as("id1"), col("id").as("id2"))
    val total = truth.count()
    if (total == 0) return 1.0
    val hit = truth.join(pairs.select(col("id1"), col("id2")), Seq("id1", "id2")).count()
    hit.toDouble / total
  }

  private def probe(spark: SparkSession, n: Long): Map[String, Any] = {
    import spark.implicits._
    val dir = ensureCorpus(spark, n, 64)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    out += "n" -> n

    // ---- winnow fingerprint index (the real catalog operator)
    locally {
      val (cnt, wall) = timed(graft.Queries.ddWinnowPairs(spark, dir).count())
      val fp = graft.Queries.docNorm(spark, dir)
        .where(length(col("norm")) > 0)
        .select(col("doc_id"), explode(graft.functions.SigExprs
          .winnowFphs(col("norm"), graft.Queries.winnowK, graft.Queries.winnowW)).as("fph"))
      val st = fp.groupBy("fph").agg(count(lit(1)).as("df"))
        .agg(count(lit(1)).as("buckets"),
          sum(when(col("df") > graft.Queries.winnowDfMax, 1L).otherwise(0L)).as("dropped"),
          max(when(col("df") <= graft.Queries.winnowDfMax, col("df"))).as("max_kept"),
          sum(when(col("df").between(2, graft.Queries.winnowDfMax),
            (col("df") * (col("df") - 1) / 2).cast("long")).otherwise(0L)).as("cand_pairs"))
        .head()
      val recall = plantedRecall(spark, graft.Queries.ddWinnowPairs(spark, dir), n)
      out += "winnow" -> Map("wall_sec" -> wall, "out_pairs" -> cnt,
        "buckets" -> st.getLong(0), "buckets_dropped" -> st.getLong(1),
        "max_kept_bucket" -> st.getLong(2), "cand_pairs" -> st.getLong(3),
        "planted_recall" -> recall)
    }

    // ---- CDC chunking (per-doc stats rolled up)
    locally {
      val ((chunks, saved), wall) = timed {
        val r = graft.Queries.ddCdc(spark, dir)
          .agg(sum(col("n_chunks")), sum(col("bytes_saved"))).head()
        (r.getLong(0), r.getLong(1))
      }
      out += "cdc" -> Map("wall_sec" -> wall, "chunks" -> chunks, "bytes_saved" -> saved)
    }

    // ---- ε-pair stage + DBSCAN at the scale config (cells ∝ n)
    locally {
      val cells = math.max(16L, n / 256L).toInt
      val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      // UNIT-normalized centroids: the production geometry is spherical
      // (trained centroids are re-normalized each iteration — see
      // trainIvfCentroids), and the search metric is cosine; unnormalized
      // random centroids make argmax(v·c − |c|²/2) collapse onto the
      // smallest-norm centroid for unit vectors (measured: one cell held
      // 4998 of 5000)
      val cents = graft.ops.Embeddings.ivfCentroids(cells, 64, 42L).map { c =>
        val nn = math.sqrt(c.map(x => x * x).sum)
        c.map(_ / nn)
      }
      val edges = graft.ops.Embeddings.semanticPairs(vecs, 0.4, numCells = cells,
          centroids = Some(cents))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (nPairs, wallP) = timed(edges.count())
      val recall = plantedRecall(spark, edges, n)
      // candidate volume = within-cell pair rows of the same assignment
      val assign = graft.ops.Embeddings.ivfCellAssigner(cents, 2)
      val cs = vecs.select(explode(assign(col("embedding"))).as("cell"))
        .groupBy("cell").agg(count(lit(1)).as("m"))
        .agg(count(lit(1)).as("cells"), max(col("m")).as("max_cell"),
          sum((col("m") * (col("m") - 1) / 2).cast("long")).as("cand_pairs")).head()
      val (roles, wallD) = timed {
        graft.ops.Embeddings.dbscanFromEdges(vecs, edges.select(col("id1"), col("id2")),
          graft.ExtQueries.dbscanMinPts)
          .groupBy("role").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      edges.unpersist(false)
      out += "semantic" -> Map("wall_sec" -> wallP, "eps_pairs" -> nPairs,
        "planted_recall" -> recall, "cells" -> cs.getLong(0),
        "max_cell" -> cs.getLong(1), "cand_pairs" -> cs.getLong(2),
        "dbscan_wall_sec" -> wallD,
        "core" -> roles.getOrElse("core", 0L), "border" -> roles.getOrElse("border", 0L),
        "noise" -> roles.getOrElse("noise", 0L))
    }

    // ---- audio/video signature-Jaccard index (the shared primitive)
    locally {
      val sigs = spark.range(n)
        .flatMap(i => sigKeys(i).map(s => (i.toString, s)))
        .toDF("item_id", "sig")
        .distinct()
      val st = sigs.groupBy("sig").agg(count(lit(1)).as("bn"))
        .agg(count(lit(1)).as("buckets"),
          sum(when(col("bn") > graft.Queries.bucketCap, 1L).otherwise(0L)).as("dropped"),
          max(when(col("bn") <= graft.Queries.bucketCap, col("bn"))).as("max_kept"),
          sum(when(col("bn").between(2, graft.Queries.bucketCap),
            (col("bn") * (col("bn") - 1) / 2).cast("long")).otherwise(0L)).as("cand_pairs"))
        .head()
      val (pairsDf, wall) = timed {
        // 0.4: planted dupes share 10 content keys whose buckets survive
        // the cap but their 2 shared corpus-common keys sit in capped
        // buckets, so the INDEXED overlap is 10/22 ≈ 0.45 — the same
        // undercount a capped production index has
        val p = graft.ops.Multimodal.sigJaccardPairs(sigs, "item_id", 0.4,
          graft.Queries.bucketCap)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        p.count()
        p
      }
      val nPairs = pairsDf.count()
      val asLong = pairsDf.select(col("item_id1").cast("long").as("id1"),
        col("item_id2").cast("long").as("id2"))
      val recall = plantedRecall(spark, asLong, n)
      pairsDf.unpersist(false)
      out += "sig_index" -> Map("wall_sec" -> wall, "out_pairs" -> nPairs,
        "buckets" -> st.getLong(0), "buckets_dropped" -> st.getLong(1),
        "max_kept_bucket" -> st.getLong(2), "cand_pairs" -> st.getLong(3),
        "planted_recall" -> recall)
    }
    out.toMap
  }

  def main(args: Array[String]): Unit = {
    val n1 = args.headOption.map(_.toLong).getOrElse(250000L)
    val n2 = args.lift(1).map(_.toLong).getOrElse(1000000L)
    val cores = Probe.cores(args, 2)
    val spark = Bench.session(cores)
    try {
      val r1 = probe(spark, n1)
      val r2 = probe(spark, n2)
      def growth(fam: String, key: String): Double = {
        val a = r1(fam).asInstanceOf[Map[String, Any]](key).toString.toDouble
        val b = r2(fam).asInstanceOf[Map[String, Any]](key).toString.toDouble
        if (a == 0) -1.0 else b / a
      }
      val fams = Seq("winnow", "semantic", "sig_index")
      val g = fams.map(f => f -> Map(
        "cand_growth" -> growth(f, "cand_pairs"),
        "wall_growth" -> growth(f, "wall_sec"))).toMap
      Probe.emit("family", Map(
        "n_ratio" -> n2.toDouble / n1, "scale_1" -> r1, "scale_2" -> r2, "growth" -> g))
    } finally spark.stop()
  }
}
