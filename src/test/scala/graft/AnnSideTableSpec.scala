package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The trained ANN rows (`ann_ivf`, `ann_pq`) persist their centroids and
  * codebooks as side tables that the oracle SQL reads back. Training on a
  * second corpus must leave the first corpus's tables, as its oracle names
  * them, byte for byte as they were.
  */
class AnnSideTableSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("ann-side-table-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A 64-dim embeddings table of 300 vectors whose angles depend on `phase`. */
  private def corpus(phase: Double): String = {
    val dir = Files.createTempDirectory("graft-ann-side").toString
    spark.range(300).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          d => sin(col("id") * 0.37 + d * phase).cast("float")).as("embedding"))
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def sideTable(oracle: String): Path = {
    val m = "read_parquet\\('([^']*)/\\*\\.parquet'\\)".r.findFirstMatchIn(oracle)
    Paths.get(m.getOrElse(fail(s"no side table in oracle: $oracle")).group(1))
  }

  /** File name -> SHA-256 of the bytes, for every parquet file in `dir`. */
  private def snapshot(dir: Path): Map[String, String] = {
    val files = Files.list(dir)
    try files.toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => p.getFileName.toString -> java.security.MessageDigest.getInstance("SHA-256")
        .digest(Files.readAllBytes(p)).map(b => f"$b%02x").mkString).toMap
    finally files.close()
  }

  test("trained ANN side tables are keyed by input dir: a second corpus leaves the first's intact") {
    val (a, b) = (corpus(0.11), corpus(-0.53))
    def tables(dir: String): Seq[Path] =
      Seq("ann_ivf", "ann_pq").map(q => sideTable(SparkEntry.oracleSql(dir)(q)))
    def train(dir: String): Unit = {
      ExtQueries.annIvfTrained(spark, dir).count()
      ExtQueries.annPqTrained(spark, dir).count()
    }
    try {
      train(a)
      val before = tables(a).map(snapshot)
      assert(before.forall(_.nonEmpty))
      train(b)
      assert(tables(a).map(snapshot) == before, "training on a second corpus rewrote the first's tables")
      assert(tables(b).intersect(tables(a)).isEmpty)
    } finally
      (Seq(a, b).map(Paths.get(_)) ++ tables(a) ++ tables(b)).foreach(TestFiles.deleteTree)
  }
}
