package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** What the host gives this process: usable CPUs, other processes' load,
  * resident memory and CPU time, read from /proc and the cgroup files.
  */
object Host {

  private def read(p: String): Option[String] =
    scala.util.Try(Files.readString(Paths.get(p))).toOption

  private def statusField(name: String): Option[String] =
    read("/proc/self/status").flatMap(_.linesIterator
      .find(_.startsWith(name + ":")).map(_.drop(name.length + 1).trim))

  /** `Cpus_allowed_list` of this process, e.g. "0-3". */
  def affinity: String = statusField("Cpus_allowed_list").getOrElse("")

  def affinityCount(list: String): Int =
    list.split(",").map(_.trim).filter(_.nonEmpty).map { r =>
      r.split("-") match {
        case Array(a, b) => b.toInt - a.toInt + 1
        case _ => 1
      }
    }.sum

  /** CPU quota in cores from cgroup v2 `cpu.max` or v1 `cfs_quota_us`. */
  def cgroupQuota: Option[Double] = {
    val v2 = read("/sys/fs/cgroup/cpu.max").map(_.trim.split("\\s+")).collect {
      case Array(q, p) if q != "max" => q.toDouble / p.toDouble
    }
    v2.orElse(for {
      q <- read("/sys/fs/cgroup/cpu/cpu.cfs_quota_us").map(_.trim.toLong) if q > 0
      p <- read("/sys/fs/cgroup/cpu/cpu.cfs_period_us").map(_.trim.toLong)
    } yield q.toDouble / p)
  }

  /** N: the CPUs this process may actually use. */
  lazy val cpus: Int = {
    val byAffinity = math.max(affinityCount(affinity),
      if (affinity.isEmpty) Runtime.getRuntime.availableProcessors() else 1)
    val byQuota = cgroupQuota.map(q => math.ceil(q).toInt).getOrElse(Int.MaxValue)
    math.max(1, math.min(byAffinity, byQuota))
  }

  /** High-water resident set of this process (`VmHWM`), MiB. */
  def peakRssMb: Double =
    statusField("VmHWM").map(_.stripSuffix("kB").trim.toDouble / 1024.0).getOrElse(Double.NaN)

  /** CPU time of this process (all threads), ms. */
  def processCpuMs: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e6
      case _ => Double.NaN
    }

  /** (busy, steal) jiffies of the whole machine from the first `/proc/stat` line. */
  private def machineJiffies(): (Long, Long) = {
    val f = read("/proc/stat").get.linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
    (f(0) + f(1) + f(2) + f(5) + f(6), f(7)) // user nice system irq softirq; steal
  }

  private def selfJiffies(): Long = {
    val f = read("/proc/self/stat").get.split("\\s+")
    f(13).toLong + f(14).toLong // utime + stime
  }

  /** Cores kept busy by other processes, and cores stolen by the hypervisor,
    * sampled while a timed window runs.
    */
  final case class Load(otherMean: Double, otherMax: Double, stealMean: Double, stealMax: Double)

  final class LoadSampler(periodMs: Int = 250) {
    private val samples = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]()
    @volatile private var running = true
    private val thread = new Thread(() => {
      var (m0, s0, w0) = (machineJiffies(), selfJiffies(), System.nanoTime())
      while (running) {
        Thread.sleep(periodMs.toLong)
        val (m1, s1, w1) = (machineJiffies(), selfJiffies(), System.nanoTime())
        val ticks = (w1 - w0) / 1e9 * 100.0 // USER_HZ = 100
        samples.add((math.max(0.0, ((m1._1 - m0._1) - (s1 - s0)) / ticks), (m1._2 - m0._2) / ticks))
        m0 = m1; s0 = s1; w0 = w1
      }
    }, "perfbench-load")
    thread.setDaemon(true)
    thread.start()

    def stop(): Load = {
      running = false
      thread.join()
      val xs = samples.asScala.toSeq
      if (xs.isEmpty) Load(0, 0, 0, 0)
      else Load(xs.map(_._1).sum / xs.size, xs.map(_._1).max, xs.map(_._2).sum / xs.size, xs.map(_._2).max)
    }
  }
}
