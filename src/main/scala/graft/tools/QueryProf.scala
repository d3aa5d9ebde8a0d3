package graft.tools

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Catalog-query profiler: runs each named query in one session and prints
  * its row count, wall time and top stages by executor run time. Naming a
  * query twice times it cold, then warm. Usage:
  *   runMain graft.tools.QueryProf <q1,q2,...> <sfDir>
  */
object QueryProf {

  /** Per-stage executor (run ms, CPU ns, tasks), plus stage names. */
  private final class StageTimes extends SparkListener {
    val names = new ConcurrentHashMap[Int, String]()
    val totals = new ConcurrentHashMap[Int, (Long, Long, Long)]()
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      Option(te.taskMetrics).foreach { m =>
        totals.merge(te.stageId, (m.executorRunTime, m.executorCpuTime, 1L),
          (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
      }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      names.put(sc.stageInfo.stageId, sc.stageInfo.name.takeWhile(_ != '\n').take(70))
  }

  def main(args: Array[String]): Unit = {
    val queries = args(0).split(",").map(_.trim).toSeq
    val dir = args(1)
    val spark = graft.Bench.session(Runtime.getRuntime.availableProcessors,
      graft.Bench.dirBytes(dir))
    val st = new StageTimes
    spark.sparkContext.addSparkListener(st)
    for (name <- queries) {
      st.totals.clear()
      val (n, wall) = Probe.timed(graft.SparkEntry.queries(name)(spark, dir).count())
      Thread.sleep(700) // listener bus drain
      println(f"[qprof] $name rows=$n wall=$wall%.2f")
      st.totals.asScala.toSeq.sortBy(-_._2._1).take(15).foreach { case (id, (run, cpu, tasks)) =>
        println(f"[qprof] $id%4d ${st.names.getOrDefault(id, "?")}%-70s " +
          f"run=${run / 1e3}%7.1f cpu=${cpu / 1e9}%7.1f tasks=$tasks%4d")
      }
    }
    spark.stop()
    sys.exit(0)
  }
}
