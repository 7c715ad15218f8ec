package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark job, stage and task counters per benchmark op. The benchmark tags each
  * op's jobs with the local property [[OpKey]]; events arrive on Spark's
  * listener thread, so every access is synchronized, and [[drain]] waits
  * until the events of all finished jobs have been delivered. */
final class OpListener extends SparkListener {
  import OpListener._

  final class Op {
    var jobs = 0
    var stages = 0
    var tasks = 0
    var taskMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    /** Per stage with at least two tasks: max task time over median task time. */
    val skew = mutable.ArrayBuffer.empty[Double]
  }

  private val ops = mutable.HashMap.empty[Int, Op]
  private val stageOp = mutable.HashMap.empty[Int, Int]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private var sentinelSeen = false

  private def op(id: Int): Op = ops.getOrElseUpdate(id, new Op)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).map(_.toInt).getOrElse(Untagged)
    op(id).jobs += 1
    e.stageIds.foreach(s => stageOp(s) = id)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (ops.get(Sentinel).exists(_.jobs > 0)) sentinelSeen = true
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val o = op(stageOp.getOrElse(e.stageId, Untagged))
    o.tasks += 1
    o.taskMs += e.taskInfo.duration
    stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      o.cpuNs += m.executorCpuTime
      o.gcMs += m.jvmGCTime
      o.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo.stageId
    val o = op(stageOp.getOrElse(s, Untagged))
    o.stages += 1
    stageTaskMs.remove(s).filter(_.size >= 2).foreach { ms =>
      val med = Stats.median(ms.map(_.toDouble).toSeq)
      if (med > 0) o.skew += ms.max / med
    }
  }

  /** Runs a tagged one-task job and waits until its end event arrives: the
    * bus delivers in order, so every earlier event has arrived too. */
  def drain(sc: SparkContext): Unit = {
    val prev = sc.getLocalProperty(OpKey)
    sc.setLocalProperty(OpKey, Sentinel.toString)
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(OpKey, prev)
    val deadline = System.nanoTime() + 30000000000L
    while (!synchronized(sentinelSeen) && System.nanoTime() < deadline) Thread.sleep(5)
    synchronized { sentinelSeen = false; ops.remove(Sentinel) }
  }

  def get(id: Int): Op = synchronized(ops.getOrElse(id, new Op))
}

object OpListener {
  val OpKey = "perfbench.op"
  val Untagged: Int = -1
  val Sentinel: Int = -2
}
