package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import graft.Bench._

/** The bench's scaling scheduler, deadline handling and JSON artifact,
  * driven without a Spark session or subprocess.
  */
class BenchProtocolSpec extends AnyFunSuite {

  private var now = 0L
  private def state(cap: Int) = new State("/sf", 1000L, cap, () => now)
  private def parse(s: String): JsonNode = new ObjectMapper().readTree(s)

  /** Run `st`'s schedule to its end, timing each trial with `wall(level, k)`
    * (k counts that level's trials from 0); returns the levels in order and
    * the final step.
    */
  private def drive(st: State)(wall: (Int, Int) => Option[Double]): (Seq[Int], Step) = {
    val order = Seq.newBuilder[Int]
    var step = st.next()
    while (step.isInstanceOf[RunLevel]) {
      val c = step.asInstanceOf[RunLevel].cores
      order += c
      st.record(c, wall(c, st.attempts(c)).map(Trial(_, 1.0, 0.1)))
      step = st.next()
    }
    (order.result(), step)
  }

  test("scheduler alternates levels starting at lo") {
    now = 0L
    assert(schedule(Map.empty, Map.empty, 3, 0) == RunLevel(Lo))
    // doubling walls never confirm, so the cap of 3 ends the run
    val (order, end) = drive(state(3))((c, k) => Some(100.0 * c * math.pow(2, k)))
    assert(order == Seq(Lo, Hi, Lo, Hi, Lo, Hi))
    assert(end == Done)
  }

  test("scheduler stops as soon as both levels are confirmed") {
    now = 0L
    val st = state(10)
    val (order, end) = drive(st)((c, _) => Some(if (c == Lo) 400.0 else 110.0))
    assert(order == Seq(Lo, Hi, Lo, Hi))
    assert(end == Done)
    assert(!st.deadlineHit)
    // a confirmed level takes no more trials while the other still needs them
    val walls = Map(Lo -> List(400.0, 410.0), Hi -> List(300.0, 110.0))
    assert(schedule(walls, Map(Lo -> 2, Hi -> 2), 10, 0) == RunLevel(Hi))
    assert(schedule(walls, Map(Lo -> 2, Hi -> 5), 10, 0) == RunLevel(Hi))
  }

  test("scheduler respects the per-level trial cap, dropped trials included") {
    now = 0L
    val st = state(2)
    val (order, end) = drive(st)((c, k) => if (c == Hi) None else Some(100.0 * (k + 1)))
    assert(order == Seq(Lo, Hi, Lo, Hi))
    assert(end == Done)
    val j = parse(st.buildJson("final"))
    assert(j.get("trials_n").asInt == 2 && j.get("trials_4n").asInt == 0)
    assert(j.get("pipeline_sec_4n").asDouble == -1.0)
    assert(!j.get("min_confirmed_n").asBoolean)
  }

  test("scheduler refuses a trial that would overrun the deadline and sets deadline_hit") {
    // a level's first trial only needs the deadline not yet passed
    assert(schedule(Map.empty, Map.empty, 3, DeadlineSec - 1) == RunLevel(Lo))
    assert(schedule(Map.empty, Map.empty, 3, DeadlineSec) == OutOfTime)
    // a later one is estimated at 1.5x that level's last trial
    val walls = Map(Lo -> List(400.0), Hi -> List(100.0))
    assert(schedule(walls, Map(Lo -> 1, Hi -> 1), 3, DeadlineSec - 601) == RunLevel(Lo))
    assert(schedule(walls, Map(Lo -> 1, Hi -> 1), 3, DeadlineSec - 600) == OutOfTime)

    now = 0L
    val st = state(3)
    st.record(Lo, Some(Trial(400.0, 390.0, 2.0)))
    st.record(Hi, Some(Trial(100.0, 380.0, 1.0)))
    now = DeadlineSec - 500
    assert(st.next() == OutOfTime)
    assert(st.deadlineHit)
    val j = parse(st.buildJson("final"))
    assert(j.get("deadline_hit").asBoolean)
    assert(j.get("scaling_efficiency").asDouble == 1.0)
  }

  test("query loop skips queries past the deadline") {
    now = 0L
    val st = state(3)
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    var flushes = 0
    st.runQueries(Seq(
      "a_fails" -> (() => { ran += "a_fails"; throw new RuntimeException("boom") }),
      "b_slow" -> (() => { ran += "b_slow"; now = DeadlineSec }),
      "c_late" -> (() => { ran += "c_late"; () }),
      "d_late" -> (() => { ran += "d_late"; () })))(flushes += 1)
    assert(ran == Seq("a_fails", "b_slow"))
    assert(flushes == 4)
    assert(st.deadlineHit)
    val j = parse(st.buildJson("queries"))
    assert(j.get("errors").elements.asScala.map(_.asText).toSeq == Seq("a_fails"))
    val q = j.get("queries")
    assert(q.fieldNames.asScala.toSeq == Seq("a_fails", "b_slow", "c_late", "d_late"))
    assert(Seq("a_fails", "c_late", "d_late").forall(q.get(_).asDouble == -1.0))
    assert(q.get("b_slow").asDouble >= 0)
    assert(j.get("value").asDouble == q.get("b_slow").asDouble)
    assert(j.get("deadline_hit").asBoolean)
  }

  test("buildJson parses with the kept key set on empty and partial state") {
    val keys = Seq("metric", "value", "unit", "queries", "errors", "sf", "status",
      "deadline_hit", "deadline_sec", "elapsed_sec", "pipeline_n", "cores_n", "cores_4n",
      "images_per_sec_n", "images_per_sec_4n", "pipeline_sec_n", "pipeline_sec_4n",
      "cpu_sec_n", "cpu_sec_4n", "gc_sec_n", "gc_sec_4n", "cpu_util_n", "cpu_util_4n",
      "cpu_work_growth", "trials_n", "trials_4n", "min_confirmed_n", "min_confirmed_4n",
      "pinned", "ballast", "hw_stream_gbps_n", "hw_stream_gbps_4n", "hw_spin_sec_n",
      "hw_spin_sec_4n", "hw_bw_scaling", "hw_compute_scaling", "scaling_efficiency")
    val levelKeys = Seq("images_per_sec", "pipeline_sec", "cpu_sec", "gc_sec", "cpu_util",
      "hw_stream_gbps", "hw_spin_sec")
    now = 0L
    val st = state(3)
    val empty = parse(st.buildJson("queries"))
    assert(empty.fieldNames.asScala.toSet == keys.toSet)
    for (k <- levelKeys; sfx <- Seq("_n", "_4n")) assert(empty.get(k + sfx).asDouble == -1.0, k + sfx)
    for (k <- Seq("cpu_work_growth", "hw_bw_scaling", "hw_compute_scaling", "scaling_efficiency"))
      assert(empty.get(k).asDouble == -1.0, k)
    assert(empty.get("value").asDouble == 0.0 && empty.get("trials_n").asInt == 0)
    assert(empty.get("cores_n").asInt == Lo && empty.get("cores_4n").asInt == Hi)

    // partial: one query and the low level's hw probe and trial only
    st.runQueries(Seq("q" -> (() => ())))(())
    st.hw = Map(Lo -> (5.0, 2.0))
    st.record(Lo, Some(Trial(50.0, 45.0, 1.0)))
    now = 77L
    val part = parse(st.buildJson("scaling"))
    assert(part.fieldNames.asScala.toSet == keys.toSet)
    assert(part.get("status").asText == "scaling" && part.get("elapsed_sec").asLong == 77L)
    assert(part.get("images_per_sec_n").asDouble == 20.0)
    assert(part.get("cpu_util_n").asDouble == 0.9)
    assert(part.get("hw_stream_gbps_n").asDouble == 5.0)
    for (k <- levelKeys) assert(part.get(k + "_4n").asDouble == -1.0, k + "_4n")
    assert(part.get("trials_n").asInt == 1 && part.get("trials_4n").asInt == 0)
    assert(part.get("scaling_efficiency").asDouble == -1.0)
    assert(part.get("hw_bw_scaling").asDouble == -1.0)
  }
}
