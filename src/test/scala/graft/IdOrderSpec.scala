package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.app.Pipeline
import graft.cluster.ConnectedComponents
import graft.streaming.OnlineClustering

/** String ids are ordered by UTF-8 bytes everywhere a Scala-side stage picks
  * a minimum or sorts ids, as connected components does. The two ids differ
  * between the orders: U+FF61 < U+1F600 in UTF-8, while `java.lang.String`
  * (UTF-16) puts the surrogate pair of U+1F600 first.
  */
class IdOrderSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("id-order-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val halfwidth = "｡"
  private val emoji = "😀"

  private def ccNames(edges: Seq[(String, String)]): Map[String, String] = {
    val s = spark
    import s.implicits._
    val records = edges.flatMap(e => Seq(e._1, e._2)).distinct.toDF("id")
    ConnectedComponents.assignAll(records, "id", edges.toDF("id1", "id2")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
  }

  test("fusion's canonical image_id is the cluster's UTF-8 minimum id, its cluster_id") {
    val s = spark
    import s.implicits._
    val assign = ccNames(Seq(emoji -> halfwidth))
    assert(assign.values.toSet == Set(halfwidth))
    val images = Seq(emoji, halfwidth).map(i => (i, "a caption", "jpg", 8, 8, 7L))
      .toDF("image_id", "caption", "fmt", "w", "h", "phash")
    val canon = Pipeline.fuse(images, assign.toSeq.toDF("id", "cluster_id")).collect()
    assert(canon.map(c => (c.cluster_id, c.image_id, c.n_members)).toSeq ==
      Seq((halfwidth, halfwidth, 2L)))
  }

  test("online clustering names a merged cluster by its UTF-8 minimum id, as batch CC does") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-idorder-in").toString
    val cpDir = Files.createTempDirectory("graft-idorder-cp").toString
    Seq(emoji -> halfwidth).toDF("id1", "id2").coalesce(1).write.mode("append").parquet(dir)
    val q = OnlineClustering.clusterUpdates(
        spark.readStream.schema("id1 string, id2 string").parquet(dir))
      .writeStream.outputMode("append").format("memory").queryName("idorder_oc")
      .option("checkpointLocation", cpDir)
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("idorder_oc").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == ccNames(Seq(emoji -> halfwidth)))
    assert(got == Map(emoji -> halfwidth, halfwidth -> halfwidth))
  }
}
