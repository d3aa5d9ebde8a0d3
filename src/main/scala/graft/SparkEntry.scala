package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in `queries` is one operator from SURVEY.md §2 (or a
  * training-data-pipeline extension), expressed as a declarative
  * DataFrame/Dataset transform over the driver's parquet tables at `sfDir`.
  * `oracleSql` carries the exactly-equivalent DuckDB SQL. Column names and
  * value arithmetic are mirrored bit-for-bit (integer math or identical
  * IEEE operations) so the driver's hash compare passes.
  */
object SparkEntry {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Flagship query; driver smoke-checks rows>0. Runs the full 5-stage
    * near-dup pipeline, `Pipeline.run` (features -> multi-pass blocking ->
    * rule-cascade verify -> connected components -> fusion) on a 2000-row
    * deterministic synthetic image+caption table (the north_rule input
    * shape) and returns the canonical records.
    */
  def entry(spark: SparkSession): DataFrame = {
    val images = graft.gen.ImageGen.asImages(
      graft.gen.ImageGen.generate(spark, 2000L, seed = 42L, partitions = 8))
    val (_, canon) = graft.app.Pipeline.run(spark, images, graft.model.DedupConfig())
    canon.toDF()
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.all

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables at `dir`. Omitted for non-SQL-expressible ops.
    */
  def oracleSql(dir: String): Map[String, String] = Queries.oracles(dir)
}
