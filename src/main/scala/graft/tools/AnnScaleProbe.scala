package graft.tools

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Bench
import graft.ops.Embeddings
import graft.tools.Probe.{bestOf, timed}

/** ANN order-of-magnitude scale probe: the catalog's ANN ladder (exact /
  * IVF-PQ trained / SQ8) has only ever been measured at the bench corpus
  * (n=2000 vectors). This probe runs the same operators at n>=1M vectors
  * (500x) and reports the constants the 10^12 design leans on:
  *
  *   - trained-quantizer train / corpus-encode / search wall seconds
  *   - recall@10 of IVF-PQ and SQ8 against the exact top-k on the same
  *     queries (the claim that shortlist+re-rank holds recall at scale)
  *   - index bytes: raw float32 corpus vs PQ codes vs SQ8 codes (the
  *     32x / 4x memory-traffic cuts, measured not asserted)
  *   - exact-baseline wall for the same query batch (what the ladder buys)
  *
  * The corpus is deterministic and clustered (1024 latent centers + per-id
  * noise, all builtin-expression arithmetic, no RNG state), so IVF cell
  * pruning faces a realistic cell-size distribution rather than uniform
  * noise, and every run reproduces bit-identically.
  *
  * Output: see [[Probe]].
  *
  * Usage: runMain graft.tools.AnnScaleProbe [n] [cores] [nQueries]
  */
object AnnScaleProbe {

  val dim = 64
  val latentClusters = 1024

  /** Deterministic clustered corpus: center(cluster, j) and noise(id, j)
    * both derive from xxhash64 — pure codegen'd expressions, fully
    * distributed, no driver data.
    */
  def genVectors(spark: SparkSession, n: Long, parts: Int): DataFrame = {
    val c = pmod(xxhash64(col("vec_id"), lit("cluster")), lit(latentClusters))
    spark.range(0, n, 1, parts).select(col("id").as("vec_id"))
      .withColumn("embedding", transform(sequence(lit(0), lit(dim - 1)), j => {
        val center = pmod(xxhash64(c * dim + j, lit(7L)), lit(2001L))
          .cast("double") / 1000.0 - 1.0
        val noise = pmod(xxhash64(col("vec_id"), j, lit(13L)), lit(2001L))
          .cast("double") / 1000.0 - 1.0
        (center * lit(3.0) + noise * lit(0.5)).cast("float")
      }))
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val cores = Probe.cores(args, 1)
    val nQ = args.lift(2).map(_.toInt).getOrElse(64)
    val k = 10
    val numCells = 256
    val nprobe = 8
    val pqM = 8
    val pqCodes = 64
    val shortlist = 100

    // ---- materialize the corpus once (untimed)
    val inputPath = Probe.cached(s"/tmp/graft_ann_input_$n") { path =>
      val gen = Bench.session(cores)
      genVectors(gen, n, 8 * cores).write.mode("overwrite").parquet(path)
      gen.stop()
    }
    val bytes = Bench.dirBytes(inputPath)

    val spark = Bench.session(cores, bytes)
    Bench.primeCache(inputPath)
    val vectors = spark.read.parquet(inputPath)
    val queries = vectors.where(col("vec_id") < nQ)
      .persist(StorageLevel.MEMORY_AND_DISK)
    queries.count()

    def mat(df: () => DataFrame): (DataFrame, Double) = {
      var last: DataFrame = null
      val s = bestOf {
        if (last != null) last.unpersist()
        last = df().persist(StorageLevel.MEMORY_AND_DISK)
        last.count()
      }
      (last, s)
    }

    // ---- trained IVF-PQ: train -> encode corpus -> search
    val (cents, ivfTrainSec) =
      timed(Embeddings.trainIvfCentroids(vectors, numCells))
    val (cb, pqTrainSec) =
      timed(Embeddings.trainPqCodebooks(vectors, pqM, pqCodes))

    // ---- warmup (untimed): run every search shape once on a 2k-row
    // slice so the whole-stage-codegen classes are generated AND
    // JIT-compiled before timing — first execution of a generated join
    // loop runs interpreted/C1 and measures the JVM, not the operator
    // (observed 10x on the 64M-row scans; same reason ScaleProbe warms
    // the pipeline)
    {
      val warm = vectors.where(col("vec_id") < 2000)
        .persist(StorageLevel.MEMORY_AND_DISK)
      warm.count()
      Embeddings.topK(warm, queries, k).count()
      Embeddings.ivfPqTopKFromCodes(Embeddings.ivfPqEncode(warm, cb, cents),
        warm, queries, k, cb, cents, nprobe, shortlist).count()
      Embeddings.sqRerankTopK(warm, queries, k, shortlist).count()
      warm.unpersist()
    }

    // ---- exact baseline (the O(n*q) scan the ladder exists to avoid)
    val (exact, exactSec) = mat(() => Embeddings.topK(vectors, queries, k))
    // index build: encode the corpus ONCE to parquet (the production
    // artifact searches reuse), timed as the build rate
    val codesPath = s"/tmp/graft_ann_codes_$n"
    val encodeSec = bestOf {
      Embeddings.ivfPqEncode(vectors, cb, cents)
        .write.mode("overwrite").parquet(codesPath)
    }
    val codeBytes = Bench.dirBytes(codesPath)
    val coded = spark.read.parquet(codesPath)
    // shortlist sweep: at n=1M the probed cells hold ~n·nprobe/numCells
    // ≈ 31k near-equidistant candidates per query, and PQ quantization
    // error swamps the within-cluster noise differences — a FIXED
    // shortlist that was lossless at n=20k (recall 1.0 at 100) collapsed
    // to 0.19 at n=1M. The production rule this probe evidences: size the
    // shortlist as a FRACTION of the probed candidates (~3%), not a
    // constant; re-rank cost stays O(shortlist·q) either way.
    val scaledShortlist = math.max(shortlist, (n / 1000L).toInt)
    val (ivfpq, ivfpqSec) = mat(() => Embeddings.ivfPqTopKFromCodes(coded,
      vectors, queries, k, cb, cents, nprobe, shortlist))
    val (ivfpqS, ivfpqSSec) = mat(() => Embeddings.ivfPqTopKFromCodes(coded,
      vectors, queries, k, cb, cents, nprobe, scaledShortlist))

    // ---- SQ8 (train = per-dim min/max over the corpus, inside the call)
    val (sq, sqSec) = mat(() => Embeddings.sqRerankTopK(vectors, queries, k,
      shortlist = shortlist))

    def recall(approx: DataFrame): Double = {
      val hits = approx.select(col("query_id"), col("neighbor_id"))
        .join(exact.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id")).count()
      hits.toDouble / (nQ.toLong * k)
    }

    Probe.emit("ann", ListMap(
      "n" -> n, "dim" -> dim, "cores" -> cores, "queries" -> nQ, "k" -> k,
      "input_bytes" -> bytes, "pq_code_bytes" -> codeBytes,
      "numCells" -> numCells, "nprobe" -> nprobe, "pq_m" -> pqM, "pq_codes" -> pqCodes,
      "shortlist" -> shortlist, "exact_sec" -> exactSec,
      "ivf_train_sec" -> ivfTrainSec, "pq_train_sec" -> pqTrainSec,
      "encode_sec" -> encodeSec, "encode_rows_per_sec" -> n / encodeSec,
      "ivfpq_search_sec" -> ivfpqSec, "ivfpq_recall10" -> recall(ivfpq),
      "scaled_shortlist" -> scaledShortlist,
      "ivfpq_scaled_search_sec" -> ivfpqSSec, "ivfpq_scaled_recall10" -> recall(ivfpqS),
      "sq_search_sec" -> sqSec, "sq_recall10" -> recall(sq)))
    spark.stop()
  }
}
