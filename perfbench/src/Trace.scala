package extractous.perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer

/** One timed call: wall interval, thread CPU and bytes allocated by the
  * calling thread. `parent` is the enclosing span's id (-1 at top level);
  * spans of one document share `doc`.
  */
final case class Span(id: Int, parent: Int, name: String, doc: String, round: Int,
    startNs: Long, endNs: Long, cpuNs: Long, allocBytes: Long)

/** Single-thread span recorder. Spans stay in memory and are written out
  * once, when the run ends. The fixed cost of one empty span is measured at
  * construction and taken off every span's CPU and allocation.
  */
final class Tracer {
  private val mx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  private val tid = Thread.currentThread().getId
  val spans = new ArrayBuffer[Span](1 << 16)
  private var stack: List[Int] = Nil
  var doc = ""
  var round = 0

  private var cpuCost = 0L
  private var allocCost = 0L
  private val calibration: (Long, Long) = {
    val n = 2000
    val cs = new Array[Long](n); val as = new Array[Long](n)
    for (i <- 0 until n) {
      span("calibrate")(())
      val s = spans.last
      cs(i) = s.cpuNs; as(i) = s.allocBytes
    }
    spans.clear()
    java.util.Arrays.sort(cs); java.util.Arrays.sort(as)
    (cs(n / 2), as(n / 2))
  }
  cpuCost = calibration._1
  allocCost = calibration._2

  def span[A](name: String)(f: => A): A = {
    val parent = if (stack.isEmpty) -1 else stack.head
    val id = spans.size
    spans += null // reserve the id so children are numbered after their parent
    stack = id :: stack
    val a0 = mx.getThreadAllocatedBytes(tid)
    val c0 = mx.getCurrentThreadCpuTime
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      val c1 = mx.getCurrentThreadCpuTime
      val a1 = mx.getThreadAllocatedBytes(tid)
      stack = stack.tail
      spans(id) = Span(id, parent, name, doc, round, t0, t1,
        math.max(0L, c1 - c0 - cpuCost), math.max(0L, a1 - a0 - allocCost))
    }
  }

  /** Tab-separated dump, one span per line, header first. */
  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      w.println("id\tparent\tname\tdoc\tround\tstart_ns\tend_ns\tcpu_ns\talloc_bytes")
      spans.foreach(s => w.println(
        s"${s.id}\t${s.parent}\t${s.name}\t${s.doc}\t${s.round}\t${s.startNs}\t${s.endNs}\t${s.cpuNs}\t${s.allocBytes}"))
    } finally w.close()
  }
}
