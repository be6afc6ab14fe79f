package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** The benchmark's one SparkListener: attributes jobs, stages, tasks, task
  * CPU, shuffle bytes, input bytes and job wall time to the facade op in
  * flight. The op is named by a local property the benchmark sets on the
  * calling thread (`OpListener.inOp`); Spark copies it onto every job that
  * op starts, so no program code changes. */
final class OpListener extends SparkListener {
  import OpListener._

  private val byOp = mutable.HashMap.empty[String, Counts]
  private val jobOp = mutable.HashMap.empty[Int, (String, Long)]
  private val stageOp = mutable.HashMap.empty[Int, String]

  private def counts(op: String): Counts = byOp.getOrElseUpdate(op, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).map(_.getProperty(Key)).orNull
    if (op != null) {
      jobOp(e.jobId) = (op, e.time)
      counts(op).jobs += 1
      e.stageIds.foreach(stageOp(_) = op)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { case (op, start) => counts(op).jobSpans += ((start, e.time)) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageOp.get(e.stageInfo.stageId).foreach(counts(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val c = counts(op)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  /** counters of `op`, complete once the listener bus has drained */
  def of(sc: SparkContext, op: String): Counts = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(byOp.getOrElse(op, new Counts))
  }
}

object OpListener {
  val Key = "perfbench.op"

  final class Counts {
    var jobs = 0
    var stages = 0
    var tasks = 0
    var cpuNs = 0L
    var shuffleBytes = 0L
    var inputBytes = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

    /** wall time covered by at least one of the op's jobs */
    def jobMs: Double = {
      var covered = 0L
      var end = Long.MinValue
      jobSpans.sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { covered += e - math.max(s, end); end = e }
      }
      covered.toDouble
    }
  }

  /** runs `f` with every Spark job it starts attributed to `op` */
  def inOp[A](sc: SparkContext, op: String)(f: => A): A = {
    sc.setLocalProperty(Key, op)
    try f finally sc.setLocalProperty(Key, null)
  }
}
