package etlbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Read-only probes of the host and of this JVM: /proc and the MXBeans.
  * Nothing here changes any setting.
  */
object Probes {

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole process (all threads: tasks, driver, JIT, GC). */
  def processCpuNs(): Long = os.getProcessCpuTime

  /** Milliseconds the JVM has spent in garbage collection so far. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Milliseconds the JIT compilers have spent so far. */
  def jitMs(): Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime
    else 0L
  }

  /** Seconds of CPU the hypervisor gave to other guests, summed over all
    * CPUs, since boot (the `steal` column of the `cpu` line of /proc/stat,
    * in USER_HZ ticks of 1/100 s). 0 where /proc/stat is absent.
    */
  def stealS(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/stat")).asScala
        .find(_.startsWith("cpu ")).getOrElse("")
      val f = line.trim.split("\\s+")
      if (f.length > 8) f(8).toDouble / 100.0 else 0.0
    } catch { case _: java.io.IOException => 0.0 }

  /** Peak resident set of this process in MB (VmHWM). */
  def peakRssMb(): Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    } catch { case _: java.io.IOException => 0.0 }
}

/** A fixed Spark job that measures how fast this machine runs Spark right
  * now: a 4-task scan, hash and sum of 8M generated rows. The host's other
  * guests change that speed by 2x within minutes (CPU steal, shared
  * cores), so a probe runs between every two ops, and each op's times are
  * scaled by the mean of the probes before and after it to the speed at
  * which the probe takes [[WallRef]] seconds and [[CpuRef]] CPU-seconds.
  *
  * The probe runs no engine code, and it runs only after the JVM has
  * settled: the heap is collected, the JIT compile queue has drained and
  * the listener bus is empty. Garbage or compile work an op leaves behind
  * is thereby paid before the probe starts, and the collector's pauses
  * inside the probe are taken out of its time.
  */
object SparkProbe {
  val WallRef = 0.30
  val CpuRef = 0.90

  /** (wall seconds, process CPU seconds) of one probe run, less the
    * collector's pauses during it.
    */
  def once(spark: org.apache.spark.sql.SparkSession): (Double, Double) = {
    val c0 = Counters.now()
    spark.range(0L, 8000000L, 1L, 4).selectExpr("sum(hash(id))").collect()
    val c = c0.until(Counters.now())
    (c.wallNs / 1e9 - c.gcMs / 1e3, c.cpuNs / 1e9 - c.gcMs / 1e3)
  }

  /** Collects the heap, then waits (up to 5 s) until the JIT compilers
    * have been idle for 200 ms and every listener event is delivered.
    */
  def settle(spark: org.apache.spark.sql.SparkSession): Unit = {
    System.gc()
    val until = System.nanoTime() + 5000000000L
    var last = Probes.jitMs()
    var quiet = 0
    while (quiet < 4 && System.nanoTime() < until) {
      Thread.sleep(50)
      val now = Probes.jitMs()
      quiet = if (now == last) quiet + 1 else 0
      last = now
    }
    org.apache.spark.etlbench.Drain(spark.sparkContext)
  }

  /** (wall, CPU) seconds of the probe on a settled JVM: the median of
    * three runs.
    */
  def measure(spark: org.apache.spark.sql.SparkSession): (Double, Double) = {
    settle(spark)
    val runs = Seq.fill(3)(once(spark))
    (runs.map(_._1).sorted.apply(1), runs.map(_._2).sorted.apply(1))
  }
}

/** Shows that an op's leftovers do not move the probe. Seven times each,
  * a probe's wall factor is taken, then an op that does nothing (the
  * control), only allocates (2 GB, with 256 MB live at its end) or only
  * leaves compile work (a plan of 200 new generated expressions) runs,
  * then the factor is taken again: once at once, and once after
  * [[SparkProbe.settle]]. Returns one line per op: the median ratio of the
  * later factor to the earlier one, unsettled and settled, and the range
  * of the settled ratios.
  */
object ProbeCheck {
  def apply(spark: org.apache.spark.sql.SparkSession): Seq[String] = {
    def factor(settled: Boolean) =
      SparkProbe.WallRef / (if (settled) SparkProbe.measure(spark) else SparkProbe.once(spark))._1
    def nothing(i: Int): Unit = ()
    def allocate(i: Int): Unit = {
      val keep = new Array[Array[Byte]](256)
      (0 until 2048).foreach(k => keep(k % 256) = new Array[Byte](1 << 20))
    }
    def compileWork(i: Int): Unit =
      spark.range(0L, 1000L, 1L, 4)
        .selectExpr((0 until 200).map(k => s"hash(id, ${i * 1000 + k}) % ${k + 7} as c$k"): _*)
        .collect()
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    Seq("does nothing" -> nothing _, "allocates" -> allocate _,
        "leaves compile work" -> compileWork _).map { case (what, op) =>
      val ratios = (1 to 7).map { i =>
        val base = factor(settled = true)
        op(2 * i)
        val unsettled = factor(settled = false) / base
        val base2 = factor(settled = true)
        op(2 * i + 1)
        (unsettled, factor(settled = true) / base2)
      }
      val settled = ratios.map(_._2)
      f"an op that $what: factor ratio ${median(ratios.map(_._1))}%.3f unsettled, " +
        f"${median(settled)}%.3f settled (${settled.min}%.3f to ${settled.max}%.3f)"
    }
  }
}

/** One snapshot of the process counters that the timed part is charged. */
final case class Counters(wallNs: Long, cpuNs: Long, gcMs: Long) {
  def until(later: Counters): Counters =
    Counters(later.wallNs - wallNs, later.cpuNs - cpuNs, later.gcMs - gcMs)
}

object Counters {
  def now(): Counters =
    Counters(System.nanoTime(), Probes.processCpuNs(), Probes.gcMs())
}
