package perfbench

import scala.collection.mutable.ArrayBuffer

/** One reported number with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload run hands back to [[Main]]: the record counts behind
  * `attempted`/`failed`, the metrics for the result line, and free-form run
  * context (sizes, versions, digests) printed on the line before it. */
final case class Outcome(attempted: Long, failed: Long, metrics: Seq[Metric],
                         context: Seq[(String, Any)])

object Stats {
  /** Linear-interpolated percentile of an ascending array (p in 0..100). */
  def percentile(sorted: Array[Double], p: Double): Double = {
    require(sorted.nonEmpty, "percentile of no samples")
    val pos = (sorted.length - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, sorted.length - 1)
    sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs.sorted.toArray, 50)

  /** Samples strictly beyond percentile p: the guide asks for at least ten. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(n * p / 100.0).toInt

  val SetUps = 3

  /** Sets up [[SetUps]] times, tearing each earlier set-up down untimed, so
    * only the last stays live; returns it and each set-up's wall time (s). */
  def setUpRepeatedly[S](setUp: => S)(tearDown: S => Unit): (S, Seq[Double]) = {
    var last: Option[S] = None
    val seconds = (0 until SetUps).map { _ =>
      last.foreach(tearDown)
      last = None
      val t0 = System.nanoTime()
      last = Some(setUp)
      (System.nanoTime() - t0) / 1e9
    }
    (last.get, seconds)
  }

  /** Heap still in use after a forced collection, in MB. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    var i = 0
    while (i < 3) { System.gc(); Thread.sleep(50); i += 1 }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** The ops of one measured window. Ops come in kinds (the expressions or
  * surfaces a workload rotates over); an op of kind `k` covers
  * `recordsPerOp(k)` input records. Every statistic is taken per kind first:
  * the kinds differ in cost by up to 10 times, and a statistic of the pooled
  * ops would jump with the mix.
  *
  * Throughput, CPU and the reported op time come from each kind's
  * [[OpLog.FastPct]]th-percentile op, not its median. The shared host slows
  * every op by up to two times for seconds at a time, in CPU time as well as
  * wall time. A median moves with the slow share of the window, and medians
  * spread by 24 to 38% between identical runs; the fast percentile stays on
  * the ops that ran undisturbed. */
final class OpLog(recordsPerOp: IndexedSeq[Int]) {
  private val kinds = recordsPerOp.size
  private val latNs = Array.fill(kinds)(ArrayBuffer.empty[Long])
  private val cpuNs = Array.fill(kinds)(ArrayBuffer.empty[Long])
  private val inOrder = ArrayBuffer.empty[(Int, Long, Long)]
  var records = 0L
  var failedRecords = 0L
  var failedOps = 0

  def ok(kind: Int, ns: Long, cpu: Long): Unit = {
    latNs(kind) += ns; cpuNs(kind) += cpu; inOrder += ((kind, ns, cpu)); records += recordsPerOp(kind)
  }
  def fail(kind: Int, failedInOp: Int): Unit = {
    failedOps += 1; records += recordsPerOp(kind); failedRecords += failedInOp
  }

  /** Every good op in run order, as TSV: kind, wall ns, CPU ns. */
  def writeTo(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path,
      ("kind\twall_ns\tcpu_ns\n" + inOrder.map { case (k, n, c) => s"$k\t$n\t$c\n" }.mkString).getBytes("UTF-8"))
  }

  def okOps: Int = latNs.map(_.size).sum
  def busyNs: Long = latNs.map(_.sum).sum

  private def perKind(xs: Array[ArrayBuffer[Long]], pct: Double): Option[Seq[Double]] =
    if (xs.exists(_.isEmpty)) None
    else Some(xs.toSeq.map(k => Stats.percentile(k.map(_.toDouble).sorted.toArray, pct)))

  /** Records of one op of each kind over the kinds' summed fast op times. */
  def recordsPerS: Double =
    perKind(latNs, OpLog.FastPct).map(m => recordsPerOp.sum / (m.sum / 1e9)).getOrElse(0.0)

  /** CPU seconds per million records, from each kind's fast op CPU time. */
  def cpuSPerMrec: Double =
    perKind(cpuNs, OpLog.FastPct).map(m => m.sum / 1e9 / (recordsPerOp.sum / 1e6)).getOrElse(0.0)

  /** The mean over kinds of each kind's fast op time. */
  def fastOpMs: Double = perKind(latNs, OpLog.FastPct).map(_.sum / kinds / 1e6).getOrElse(0.0)

  def kindMs(pct: Double): Seq[Double] = perKind(latNs, pct).getOrElse(Nil).map(_ / 1e6)

  /** The typical op and its tail. Kinds differ in cost, so a percentile of
    * the pooled latencies falls between kinds and jumps with their mix.
    * Instead: p50 is the mean over kinds of each kind's median latency, and
    * the tail is p50 times the `tailPct` percentile of every op's latency
    * over its own kind's median. */
  def p50AndTail(tailPct: Double): (Double, Double) = perKind(latNs, 50) match {
    case None => (0.0, 0.0)
    case Some(med) =>
      val p50 = med.sum / kinds / 1e6
      val ratios = latNs.indices.flatMap(k => latNs(k).map(_ / med(k))).sorted.toArray
      (p50, p50 * Stats.percentile(ratios, tailPct))
  }
}

object OpLog {
  val FastPct = 20.0
}

object Json {
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ": " + render(x) }.mkString("{", ", ", "}")
    case kv: Seq[_] if kv.forall(_.isInstanceOf[(_, _)]) && kv.nonEmpty =>
      kv.map { case (k, x) => quote(k.toString) + ": " + render(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }
}
