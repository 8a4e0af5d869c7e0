package extractous.perfbench

import extractous.gen.CorpusGen
import org.apache.spark.PerfbenchStats
import org.apache.spark.sql.SparkSession

import com.sun.management.GarbageCollectionNotificationInfo

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The measured process. One JVM runs one workload:
  *
  *   1. set-up: SparkSession, open the input table, extract the first
  *      document (`first_doc_ms` marks the end of set-up);
  *   2. leg A: one untimed warm-up pass, which also samples the live heap,
  *      then closed-loop passes at `local[cores]`, about 40% of the budget;
  *   3. leg B (untraced only): `Extract.apply` latency from one thread,
  *      25% of the budget, with the Spark session stopped;
  *   4. leg C: the same passes at `local[1]`, about 35% of the budget;
  *   5. traced only: per-layer decomposition and per-operator timings.
  *
  * Every pass and every latency call is checked against the generator's
  * expected values. Results go to a JSON file the launcher reads.
  *
  * Usage: Main <workload> <dataDir> <seconds> <trace 0|1> <cores> <resultFile>
  */
object Main {

  def session(cores: Int, localDir: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "67108864")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  final case class PassOut(docs: Long, seconds: Double, mismatches: Long)

  /** Passes in a leg: its share of the budget over the workload's typical
    * pass time, at least two. The count depends on `--seconds` only, never on
    * how fast this run goes, so every run's legs end at the same point of
    * JIT warm-up.
    */
  def passes(share: Double, passSeconds: Double): Int = math.max(2, math.round(share / passSeconds).toInt)

  /** Median of the per-pass rates. */
  def rate(ps: Iterable[PassOut]): Double = Timing.median(ps.map(p => p.docs / p.seconds).toSeq)

  def main(args: Array[String]): Unit = {
    val Array(workload, data, secondsStr, traceStr, coresStr, resultFile) = args
    val seconds = secondsStr.toDouble
    val trace = traceStr == "1"
    val cores = coresStr.toInt
    val localDir = s"$data/spark-local"
    val out = mutable.LinkedHashMap.empty[String, Any]

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1e3}%7.2f s  $what")
    var spark = session(cores, localDir)
    phase("session up")
    val w: Workload = workload match {
      case "crawl"       => new Crawl(data)
      case "office_docs" => new OfficeDocs(data)
      case "curate"      => new Curate(data)
    }
    w.firstDoc(spark)
    out("first_doc_ms") = System.currentTimeMillis()
    phase("first document extracted")

    w.prepare(spark)
    val stats = new PerfbenchStats
    var attempted = 0L
    var mismatches = 0L
    def account(p: PassOut): PassOut = { attempted += p.docs; mismatches += p.mismatches; p }

    // ---- leg A: local[cores], closed loop --------------------------------
    phase("expected values loaded")
    // warm-up (JIT, file listing caches), untimed, so it also samples the
    // live heap
    val heap = new LiveHeap
    heap.during(everyMs = 200)(account(w.pass(spark)))
    phase("warm-up pass done")
    val legA = mutable.ArrayBuffer.empty[(PassOut, Boolean)]
    val nA = passes(seconds * 0.4, w.passSeconds._1)
    while (legA.size < (if (trace) math.max(4, nA) else nA)) {
      // traced runs interleave passes with and without the listener as
      // on-off-off-on, so JIT warming favours neither half; the rate gap
      // between the two halves is the tracing overhead
      val listen = trace && (legA.size % 4 == 0 || legA.size % 4 == 3)
      if (listen) { stats.reset(); spark.sparkContext.addSparkListener(stats) }
      val p = account(w.pass(spark))
      if (listen) {
        PerfbenchStats.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(stats)
        w.observe(stats, p)
      }
      legA += ((p, listen))
      System.err.println(f"[perfbench] pass A${legA.size}: ${p.docs} docs in ${p.seconds}%.3f s${if (listen) " (listener on)" else ""}")
    }
    val peakLive = heap.stop()
    val docsPerS = rate(legA.filterNot(_._2).map(_._1))
    phase("leg A done")

    // ---- leg B: library latency, no Spark session running ------------------
    val latDocs = if (trace) None else Some(w.latencyDocs(spark))
    spark.stop()
    val lat = latDocs.map(Latency.run(_, seconds * 0.25))
    lat.foreach { l => attempted += l.calls; mismatches += l.mismatches }
    phase("leg B done")

    // ---- leg C: the same passes at local[1] --------------------------------
    spark = session(1, localDir)
    phase("local[1] session up")
    val legC = mutable.ArrayBuffer.empty[PassOut]
    while (legC.size < passes(seconds * 0.35, w.passSeconds._2)) {
      legC += account(w.pass(spark))
      System.err.println(f"[perfbench] pass C${legC.size}: ${legC.last.docs} docs in ${legC.last.seconds}%.3f s")
    }
    val docsPerS1 = rate(legC)
    phase("leg C done")

    if (!trace) {
      val l = lat.get
      out("docs_per_s") = docsPerS
      out("docs_per_s_1core") = docsPerS1
      out("doc_lat_p50_us") = l.p50Us
      out("doc_lat_p999_us") = l.p999Us
      out("peak_live_heap_mb") = peakLive / 1e6
      out("latency_calls") = l.calls
      out("latency_beyond_p999") = l.beyondP999
    } else {
      val traced = rate(legA.filter(_._2).map(_._1))
      val layer = w.layers(spark)
      layer("trace.overhead_ratio") = 1.0 - traced / docsPerS
      layer("spark.par_eff") = docsPerS / (cores * docsPerS1)
      // the sum-of-stages check: a traced run whose layers miss more than
      // 10% of Extract.apply's CPU is reported as incorrect
      val residual = layer.getOrElse("trace.residual_ratio", 0.0)
      out("residual_ok") = math.abs(residual) <= 0.1
      if (math.abs(residual) > 0.1)
        System.err.println(s"[perfbench] error: layer sum is off Extract.apply by $residual (limit 0.1)")
      out("layers") = mutable.LinkedHashMap(LayerNames.all.map(l => l._1 -> layer.getOrElse(l._1, 0.0)): _*)
      out("layer_units") = mutable.LinkedHashMap(LayerNames.all.map(l => l._1 -> l._2): _*)
    }
    mismatches += w.finalCheck(spark)
    phase("checks done")
    out("attempted") = attempted
    out("mismatches") = mismatches
    spark.stop()
    Json.write(resultFile, out)
  }
}

/** Peak live heap, in bytes: heap occupancy at the end of each full
  * collection, from the collectors' notifications, from construction until
  * `stop`. Young collections are not counted: the old generation they
  * leave holds tenured garbage, which grows with promotion timing rather
  * than with what the program keeps. `during` forces a full collection
  * every `everyMs` while a pass runs, so memory held only within a pass (a
  * broadcast, a shuffle buffer) shows; `stop` forces one more, for what
  * stays live across passes.
  */
final class LiveHeap extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect { case e: NotificationEmitter => e }
  private var peak = 0L
  private var seen = 0L
  emitters.foreach(_.addNotificationListener(this, null, null))

  def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      if (info.getGcAction == "end of major GC") {
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peak = math.max(peak, used); seen += 1; notifyAll() }
      }
    }

  def during[A](everyMs: Long)(f: => A): A = {
    @volatile var running = true
    val sampler = new Thread(() => while (running) { Thread.sleep(everyMs); if (running) System.gc() }, "perfbench-live-heap")
    sampler.setDaemon(true)
    sampler.start()
    try f finally { running = false; sampler.interrupt(); sampler.join() }
  }

  def stop(): Long = {
    val before = synchronized(seen)
    System.gc()
    // notifications arrive on another thread; wait for the forced one
    val until = System.currentTimeMillis() + 5000
    synchronized { while (seen == before && System.currentTimeMillis() < until) wait(100) }
    emitters.foreach(_.removeNotificationListener(this))
    synchronized {
      System.err.println(s"[perfbench] live heap: $seen full collections observed")
      peak
    }
  }
}

/** One workload: its first-document probe, its closed-loop pass and its
  * checks. Every leg runs the same pass.
  */
trait Workload {
  /** Typical seconds of one leg-A and one leg-C pass on a 4-vCPU host. */
  def passSeconds: (Double, Double)
  def firstDoc(spark: SparkSession): Unit
  def prepare(spark: SparkSession): Unit
  def pass(spark: SparkSession): Main.PassOut
  def latencyDocs(spark: SparkSession): Array[Latency.Doc]
  /** Reads the listener after a traced pass of leg A. */
  def observe(stats: PerfbenchStats, p: Main.PassOut): Unit
  /** Per-layer metrics of a traced run (layers this workload bypasses are 0). */
  def layers(spark: SparkSession): mutable.LinkedHashMap[String, Double]
  /** Checks made once per run, after the timed legs; returns mismatches. */
  def finalCheck(spark: SparkSession): Long = 0L
}

object Timing {
  def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size; if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }
}

/** Minimal JSON writer for the result file (numbers, strings, nested maps). */
object Json {
  def render(v: Any): String = v match {
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => "\"" + k + "\": " + render(x) }.mkString("{", ", ", "}")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case x => x.toString
  }
  def write(path: String, m: collection.Map[String, Any]): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), render(m).getBytes("UTF-8"))
}

/** Closed-loop `Extract.apply` latency from one thread, every result
  * checked. It runs at least until 20,000 calls, so the 99.9th percentile
  * rests on at least twenty samples beyond it. One caller, not one per core: on a shared
  * 4-vCPU host the tail of four concurrent callers measured the hypervisor's
  * scheduling (374-1078 us across four windows of the same JVM) rather than
  * the library (179-200 us from one caller).
  */
object Latency {
  final case class Doc(bytes: Array[Byte], text: String, status: Int, contentType: String)
  final case class Result(calls: Long, mismatches: Long, p50Us: Double, p999Us: Double, beyondP999: Long)

  def run(docs: Array[Doc], seconds: Double): Result = {
    // one untimed sweep so every format's code is compiled before timing
    docs.foreach(d => extractous.core.Extract(d.bytes, CorpusGen.flagshipConfig))
    val stop = System.nanoTime() + (seconds * 1e9).toLong
    val lat = mutable.ArrayBuilder.make[Long]
    var bad = 0L
    var i = 0
    while (System.nanoTime() < stop || i < 20000) {
      val d = docs(i % docs.length)
      val t0 = System.nanoTime()
      val r = extractous.core.Extract(d.bytes, CorpusGen.flagshipConfig)
      lat += System.nanoTime() - t0
      if (r.text != d.text || r.status != d.status || r.contentType != d.contentType) bad += 1
      i += 1
    }
    val all = lat.result()
    java.util.Arrays.sort(all)
    val n = all.length
    val i999 = math.min(n - 1, math.ceil(n * 0.999).toInt - 1)
    Result(n, bad, all(n / 2) / 1e3, all(i999) / 1e3, (n - 1 - i999).toLong)
  }
}
