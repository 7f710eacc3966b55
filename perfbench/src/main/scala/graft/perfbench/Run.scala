package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark invocation's settings, all from the command line. */
final case class Config(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    data: Path, work: Path, out: Path, cpus: Int)

/** State shared by a workload run: the timed samples, the failure count,
  * the trace and the per-layer values it yields. */
final class Run(val cfg: Config) {
  val trace = new Trace(cfg.trace)
  /** End-to-end cost of every measured operation, by kind. */
  val samples = mutable.ArrayBuffer.empty[(String, Cost)]
  /** Per-layer values, one entry per operation that recorded the layer. */
  private val layerValues = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Per-layer values reported as given (run-level numbers). */
  private val layerTotals = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  /** Set-up costs; `setup_s` is the median of their CPU times at
    * reference speed. */
  val setupSamples = mutable.ArrayBuffer.empty[Cost]
  var measuredS = 0.0
  var heapAfterSetupMb = 0.0
  var retainedHeapMb = 0.0
  /** Result dumps the launcher checks against an independent engine. */
  val checkFiles = mutable.ArrayBuffer.empty[Path]

  def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += msg
    System.err.println(s"perfbench: FAILED $msg")
  }

  /** True inside the measured window. */
  private var measuring = false
  /** Trace op id of the first measured operation. */
  var firstMeasuredOp = 0L

  /** Record one per-operation value of a per-layer metric (traced run,
    * measured operations only: warm-up values are dropped). */
  def layer(name: String, v: Double): Unit =
    if (cfg.trace && measuring) {
      layerValues.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
      trace.add(name, v)
    }

  def layerTotal(name: String, v: Double): Unit =
    if (cfg.trace) layerTotals(name) = layerTotals.getOrElse(name, 0.0) + v

  /** Per-layer metrics: the median over operations of each recorded
    * value, plus the run-level totals. */
  def layerMetrics: Map[String, Double] =
    layerValues.map { case (k, vs) => k -> Stats.median(vs.toSeq) }.toMap ++ layerTotals

  /** CPU ms of the reference kernel's runs after the measured operations. */
  val calibMs = mutable.ArrayBuffer.empty[Double]

  /** Record a measured operation, then run the reference kernel once per
    * 100 ms of its wall time (at least once): about 5% of the window, and
    * enough kernel samples for a steady median when operations are few. */
  def sample(kind: String, c: Cost): Unit = {
    samples += ((kind, c))
    (1 to math.max(1, (c.ms / 100).toInt)).foreach(_ => calibMs += Cpu.ownMs(Calib.once()))
  }

  /** Host slowness in the window: the kernel's median CPU time over its
    * CPU time on the reference host. CPU times divided by it are CPU times
    * at reference speed. */
  def slowdown: Double = Stats.median(calibMs.toSeq) / Calib.ReferenceMs

  /** Run one set-up and record its cost. */
  def setup[A](f: => A): A = {
    val (a, c) = Cpu.metered(f)
    setupSamples += c
    a
  }

  /** Geometric mean over operation kinds of each kind's median of `f`:
    * every kind weighs the same whatever its share of the stream. */
  def perKind(f: Cost => Double): Double = {
    val meds = samples.groupBy(_._1).values.map(s => Stats.median(s.map(x => f(x._2)).toSeq))
    math.exp(meds.map(math.log).sum / meds.size)
  }

  def opMs: Double = perKind(_.ms)
  def opCpuMs: Double = perKind(_.cpuMs)
  def opNormCpuMs: Double = opCpuMs / slowdown
  /** Median set-up CPU time (s) at reference speed. */
  def setupNormS: Double = Stats.median(setupSamples.map(_.cpuMs / 1000.0).toSeq) / slowdown

  /** The measured window: whole cycles of the workload's operation mix,
    * as many as are expected to end within `--seconds` (at least one). */
  def measure(cycle: => Unit): Unit = {
    val window = cfg.seconds * 1e9
    firstMeasuredOp = trace.currentOp + 1
    (1 to 100).foreach(_ => Calib.once())
    measuring = true
    val t0 = System.nanoTime()
    var done = 0
    do { cycle; done += 1 } while ((System.nanoTime() - t0).toDouble * (done + 1) / done <= window)
    measuredS = (System.nanoTime() - t0) / 1e9
    measuring = false
  }
}

/** One operation's cost: wall time and the CPU time of the JVM's Java
  * threads, both in ms. */
final case class Cost(ms: Double, cpuMs: Double)

/** CPU time of the JVM's Java threads, read per thread. Linux charges a
  * thread only for the time it ran, so hypervisor steal and run-queue
  * waits, which stretch wall time on a shared host, are not part of it.
  * JIT compiler and GC threads are not Java threads and are not counted. */
object Cpu {
  private val threads =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  final class Mark private[Cpu] (val wallNs: Long, val ids: Array[Long], val ns: Array[Long])

  def mark(): Mark = {
    val ids = threads.getAllThreadIds
    val ns = threads.getThreadCpuTime(ids)
    new Mark(System.nanoTime(), ids, ns)
  }

  /** Cost since `m`. A thread started after the mark counts from zero; one
    * that ended since is not counted. */
  def since(m: Mark): Cost = {
    val wall = System.nanoTime() - m.wallNs
    val ids = threads.getAllThreadIds
    val ns = threads.getThreadCpuTime(ids)
    val before = new java.util.HashMap[Long, Long](m.ids.length * 2)
    m.ids.indices.foreach(i => if (m.ns(i) >= 0) before.put(m.ids(i), m.ns(i)))
    var cpu = 0L
    ids.indices.foreach { i =>
      if (ns(i) >= 0) cpu += ns(i) - before.getOrDefault(ids(i), 0L)
    }
    Cost(wall / 1e6, cpu / 1e6)
  }

  /** CPU ms of the calling thread alone spent in `f`. */
  def ownMs(f: => Unit): Double = {
    val t0 = threads.getCurrentThreadCpuTime
    f
    (threads.getCurrentThreadCpuTime - t0) / 1e6
  }

  def metered[A](f: => A): (A, Cost) = {
    val m = mark()
    val a = f
    (a, since(m))
  }
}

/** JVM-wide numbers read through the platform MXBeans. */
object Jvm {
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def jitMs: Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else 0L
  }

  /** Heap in use after full collections, MB: the least of three reads,
    * each after a collection and a pause that lets Spark's cleaner thread
    * drop the blocks whose owners the previous collection freed. */
  def heapAfterGcMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(200)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min
}

/** Host contention stamp: core count, load1 at both edges and hypervisor
  * steal over the whole run, judged by the engine's own contention rule. */
final class HostStamp(cpus: Int) {
  private def load1(): Double =
    try scala.util.Using.resource(scala.io.Source.fromFile("/proc/loadavg"))(
      _.mkString.trim.split(" ").head.toDouble)
    catch { case _: Exception => -1.0 }

  private def ticks(): Array[Long] =
    try scala.util.Using.resource(scala.io.Source.fromFile("/proc/stat"))(
      _.getLines().next().split("\\s+").drop(1).map(_.toLong))
    catch { case _: Exception => Array.empty[Long] }

  private val load1Before = load1()
  private val ticksBefore = ticks()

  def finish(): Map[String, Any] = {
    val load1After = load1()
    val t1 = ticks()
    val steal =
      if (ticksBefore.length >= 8 && t1.length >= 8) {
        val d = t1.zip(ticksBefore).map { case (a, b) => (a - b).max(0L) }
        100.0 * d(7) / d.sum.max(1L)
      } else 0.0
    Map("nproc" -> cpus, "load1_before" -> load1Before, "load1_after" -> load1After,
      "steal_pct" -> steal,
      "contended" -> graft.BenchGuard.hostContended(
        math.max(load1Before, load1After), cpus, steal))
  }
}
