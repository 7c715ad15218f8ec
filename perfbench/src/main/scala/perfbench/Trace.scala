package perfbench

import scala.collection.mutable

/** In-memory span recorder for the traced run: each span keeps its name,
  * start, end, parent span and op id in preallocated primitive arrays, so
  * recording costs two `nanoTime` calls and a few array stores. Spans nest on
  * one thread; [[full]] tells the caller to stop before the arrays overflow.
  * Nothing is written until [[writeTo]] at the end of the run. */
final class Trace(capacity: Int) {
  private val names = mutable.ArrayBuffer.empty[String]
  private val ids = mutable.HashMap.empty[String, Int]
  private val nameOf = new Array[Int](capacity)
  private val parentOf = new Array[Int](capacity)
  private val opOf = new Array[Int](capacity)
  private val startNs = new Array[Long](capacity)
  private val endNs = new Array[Long](capacity)
  private var size = 0
  private var open = -1

  def id(name: String): Int = ids.getOrElseUpdate(name, { names += name; names.length - 1 })

  /** Room for at least `n` more spans. */
  def hasRoom(n: Int): Boolean = size + n <= capacity

  def begin(name: Int, op: Int): Int = {
    val i = size
    size += 1
    nameOf(i) = name; parentOf(i) = open; opOf(i) = op
    open = i
    startNs(i) = System.nanoTime()
    i
  }

  def end(i: Int): Unit = {
    endNs(i) = System.nanoTime()
    open = parentOf(i)
  }

  @inline def span[A](name: Int, op: Int)(body: => A): A = {
    val i = begin(name, op)
    try body finally end(i)
  }

  /** Per span name: (count, total ns, self ns). Self time is a span's
    * duration minus the time its direct children cover. */
  def summary: Map[String, (Long, Long, Long)] = {
    val childNs = new Array[Long](size)
    var i = 0
    while (i < size) {
      val p = parentOf(i)
      if (p >= 0) childNs(p) += endNs(i) - startNs(i)
      i += 1
    }
    val count = new Array[Long](names.length)
    val total = new Array[Long](names.length)
    val self = new Array[Long](names.length)
    i = 0
    while (i < size) {
      val d = endNs(i) - startNs(i)
      count(nameOf(i)) += 1; total(nameOf(i)) += d; self(nameOf(i)) += d - childNs(i)
      i += 1
    }
    names.indices.map(n => names(n) -> ((count(n), total(n), self(n)))).toMap
  }

  /** Tab-separated `index name op parent start_ns end_ns`, one span a line. */
  def writeTo(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      w.write("index\tname\top\tparent\tstart_ns\tend_ns\n")
      var i = 0
      while (i < size) {
        w.write(s"$i\t${names(nameOf(i))}\t${opOf(i)}\t${parentOf(i)}\t${startNs(i)}\t${endNs(i)}\n")
        i += 1
      }
    } finally w.close()
  }
}
