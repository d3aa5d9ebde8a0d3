package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Totals per Spark job group: jobs started, executor CPU, shuffle bytes
  * written and bytes spilled to disk, summed over every task of every job
  * the group ran. Jobs outside any group are not counted.
  */
final class GroupListener extends SparkListener {

  // written only by the listener bus thread; read after the bus is drained
  final class Totals {
    @volatile var jobs = 0L
    @volatile var cpuNs = 0L
    @volatile var shuffleWriteBytes = 0L
    @volatile var spillBytes = 0L
  }

  private val byGroup = new ConcurrentHashMap[String, Totals]()
  private val groupOfStage = new ConcurrentHashMap[Int, String]()

  def totals(group: String): Totals = byGroup.computeIfAbsent(group, _ => new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      totals(g).jobs += 1
      e.stageIds.foreach(groupOfStage.put(_, g))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (g <- Option(groupOfStage.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val t = totals(g)
      t.cpuNs += m.executorCpuTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.diskBytesSpilled
    }
}
