package perfbench

/** Output checks for one flagship pipeline run, on collected in-memory arrays.
  *
  * Pair metrics come from the gold x predicted contingency table: a pair of
  * rows is "together" in a clustering when both rows share a cluster, so the
  * number of together pairs is the sum of C(k, 2) over cluster sizes and the
  * number of pairs together in both is the sum of C(k, 2) over the non-empty
  * cells of the table. No pair is ever listed.
  */
object Checks {

  /** One canonical (fused) row: its cluster, member count and picked id. */
  final case class CanonRow(clusterId: String, nMembers: Long, imageId: String)

  final case class Outcome(errors: Seq[String], recall: Double, precision: Double,
                           clusters: Long, goldPairs: Long, predictedPairs: Long) {
    def ok: Boolean = errors.isEmpty
  }

  private def pairs(k: Long): Long = k * (k - 1) / 2

  /** @param input  (id, gold cluster) for every input row
    * @param assign (id, cluster_id) as returned by the pipeline
    * @param canon  the pipeline's canonical rows
    */
  def flagship(input: Array[(String, String)], assign: Array[(String, String)],
               canon: Array[CanonRow]): Outcome = {
    val errors = Seq.newBuilder[String]
    val gold = input.toMap

    // every input id is assigned exactly once, and nothing else is assigned
    val assignedTwice = assign.groupBy(_._1).count(_._2.length > 1)
    if (assignedTwice > 0) errors += s"$assignedTwice ids assigned more than once"
    val assigned = assign.iterator.map(_._1).toSet
    val missing = gold.keysIterator.count(id => !assigned.contains(id))
    if (missing > 0) errors += s"$missing input ids not assigned"
    val unknown = assigned.count(id => !gold.contains(id))
    if (unknown > 0) errors += s"$unknown assigned ids not in the input"

    // cluster_id is the minimum member id
    val members = assign.groupMap(_._2)(_._1)
    val badIds = members.count { case (cid, ids) => ids.min != cid }
    if (badIds > 0) errors += s"$badIds clusters whose id is not their minimum member id"

    // one canonical row per cluster, carrying that cluster's size; fusion
    // keeps the minimum image id, which is the cluster id
    if (canon.length != members.size)
      errors += s"${canon.length} canonical rows for ${members.size} clusters"
    val canonBad = canon.count(c =>
      !members.get(c.clusterId).exists(_.length == c.nMembers) || c.imageId != c.clusterId)
    if (canonBad > 0) errors += s"$canonBad canonical rows disagree with the assignment"

    val cells = assign.iterator.filter(a => gold.contains(a._1))
      .map(a => (gold(a._1), a._2)).toSeq.groupMapReduce(identity)(_ => 1L)(_ + _)
    val together = cells.valuesIterator.map(pairs).sum
    val goldPairs = input.groupMapReduce(_._2)(_ => 1L)(_ + _).valuesIterator.map(pairs).sum
    val predPairs = members.valuesIterator.map(ids => pairs(ids.length.toLong)).sum
    // with nothing to find (or nothing predicted) the ratio is vacuously 1
    val recall = if (goldPairs == 0) 1.0 else together.toDouble / goldPairs
    val precision = if (predPairs == 0) 1.0 else together.toDouble / predPairs
    Outcome(errors.result(), recall, precision, members.size.toLong, goldPairs, predPairs)
  }
}
