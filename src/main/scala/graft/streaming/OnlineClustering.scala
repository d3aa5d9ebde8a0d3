package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.model.IdOrdering

/** Online cluster re-emission: duplicate edges stream in, UPDATED cluster
  * assignments stream out — the Structured Streaming analog of the
  * reference's online duplicate detection
  * (`core/dedupe/duplicate_detection/online/OnlineDuplicateDetection
  * .java:34-65`: one record in → the record's updated clusters out).
  *
  * Semantics per micro-batch: every edge unions its endpoints' clusters
  * (cluster id = min member id under [[IdOrdering]], the batch
  * ClusterIdGenerator and CC's order); every
  * cluster TOUCHED by the batch — including one that merely absorbed a
  * duplicate it already contained — re-emits ALL its members with their
  * (possibly new) cluster id, so a downstream consumer that keeps each
  * id's latest emission always holds the same partition the batch
  * transitive closure would produce (e2e-gated in ResumeStreamSpec against
  * `ConnectedComponents.assignAll` on the same edge sequence).
  *
  * Scale posture, stated plainly: the union-find state lives in ONE
  * flatMapGroupsWithState group, i.e. one executor — which is exactly the
  * reference's online mode, an inherently SEQUENTIAL algorithm (it mutates
  * one clustering as records arrive; the reference runs it in-process).
  * This operator is the low-latency path for the stream-of-updates regime
  * (state = the active id→cluster map, ~tens of bytes per id). The
  * DISTRIBUTED path for high-throughput incremental re-clustering is
  * foreachBatch + [[graft.cluster.ConnectedComponents.incrementalAssign]],
  * which re-runs loop-sized CC over (previous assignment ∪ new edges) with
  * no single-executor state; the ResumeStreamSpec gate proves the two
  * agree on the final assignment.
  */
object OnlineClustering {

  final case class Assignment(id: String, cluster_id: String)

  /** @param edges streaming DataFrame with two string id columns
    *              (first two columns are taken as the edge endpoints)
    */
  def clusterUpdates(edges: DataFrame): Dataset[Assignment] = {
    val spark = edges.sparkSession
    import spark.implicits._
    val Seq(c1, c2) = edges.columns.toSeq.take(2)
    val es = edges.select(col(c1).cast("string"), col(c2).cast("string"))
      .as[(String, String)]
    es.groupByKey(_ => 0)
      .flatMapGroupsWithState[Map[String, String], Assignment](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (_, batch, state) =>
          // state: id -> cluster id (min member id), kept fully flattened —
          // every merge relabels the absorbed side, so lookups are O(1)
          var parent = state.getOption.getOrElse(Map.empty[String, String])
          val touched = scala.collection.mutable.Set.empty[String]
          batch.foreach { case (a, b) =>
            val ra = parent.getOrElse(a, a)
            val rb = parent.getOrElse(b, b)
            if (ra == rb) {
              parent += (a -> ra, b -> ra)
              touched += ra
            } else {
              val (win, lose) = if (IdOrdering.string.lt(ra, rb)) (ra, rb) else (rb, ra)
              // relabel the absorbed cluster; its former id may have been
              // emitted before, so the whole merged cluster re-emits below
              parent = parent.map { case (id, r) =>
                id -> (if (r == lose) win else r)
              } + (a -> win) + (b -> win)
              touched -= lose
              touched += win
            }
          }
          state.update(parent)
          parent.iterator.collect {
            case (id, r) if touched(r) => Assignment(id, r)
          }
        }
  }
}
