package perfbench

import org.scalatest.funsuite.AnyFunSuite

import perfbench.Checks.CanonRow

/** Each flagship output check passes on a clean output and fails once the
  * output is tampered with in the way the check guards against.
  */
class ChecksSpec extends AnyFunSuite {

  // gold: {a, b} and {c, d} are duplicates, e stands alone
  private val input = Array("a" -> "a", "b" -> "a", "c" -> "c", "d" -> "c", "e" -> "e")
  private val assign = Array("a" -> "a", "b" -> "a", "c" -> "c", "d" -> "c", "e" -> "e")
  private val canon = Array(CanonRow("a", 2, "a"), CanonRow("c", 2, "c"), CanonRow("e", 1, "e"))

  private def errors(assign: Array[(String, String)] = assign,
                     canon: Array[CanonRow] = canon): Seq[String] =
    Checks.flagship(input, assign, canon).errors

  test("a clean output passes with full recall and precision") {
    val out = Checks.flagship(input, assign, canon)
    assert(out.ok, out.errors)
    assert(out.recall == 1.0 && out.precision == 1.0)
    assert(out.clusters == 3 && out.goldPairs == 2 && out.predictedPairs == 2)
  }

  test("an id assigned twice fails") {
    assert(errors(assign = assign :+ ("e" -> "a")).exists(_.contains("more than once")))
  }

  test("an input id left unassigned fails") {
    assert(errors(assign = assign.filterNot(_._1 == "e"),
      canon = canon.filterNot(_.clusterId == "e")).exists(_.contains("not assigned")))
  }

  test("an assigned id that is not in the input fails") {
    assert(errors(assign = assign :+ ("z" -> "z"),
      canon = canon :+ CanonRow("z", 1, "z")).exists(_.contains("not in the input")))
  }

  test("a cluster id that is not the minimum member id fails") {
    val relabelled = assign.map { case (id, c) => id -> (if (c == "c") "d" else c) }
    val canon2 = canon.map(r => if (r.clusterId == "c") CanonRow("d", 2, "d") else r)
    assert(errors(assign = relabelled, canon = canon2).exists(_.contains("minimum member")))
  }

  test("a missing or extra canonical row fails") {
    assert(errors(canon = canon.init).exists(_.contains("canonical rows for")))
    assert(errors(canon = canon :+ CanonRow("e", 1, "e")).exists(_.contains("canonical rows for")))
  }

  test("a canonical row that disagrees with the assignment fails") {
    assert(errors(canon = canon.map(r => r.copy(nMembers = r.nMembers + 1))).nonEmpty)
    assert(errors(canon = canon.map(r => if (r.clusterId == "a") r.copy(imageId = "b") else r))
      .exists(_.contains("disagree")))
  }

  test("pair recall and precision come from the contingency table") {
    // predicted {a, b, c, d} merges the two gold clusters: 6 predicted
    // pairs, of which the 2 gold pairs are together
    val merged = assign.map { case (id, c) => id -> (if (id == "e") "e" else "a") }
    val out = Checks.flagship(input, merged, Array(CanonRow("a", 4, "a"), CanonRow("e", 1, "e")))
    assert(out.ok, out.errors)
    assert(out.recall == 1.0 && out.precision == 2.0 / 6)
    // all singletons: nothing predicted, so precision is vacuously 1
    val singles = input.map { case (id, _) => id -> id }
    val out2 = Checks.flagship(input, singles, singles.map { case (id, _) => CanonRow(id, 1, id) })
    assert(out2.recall == 0.0 && out2.precision == 1.0)
  }
}
