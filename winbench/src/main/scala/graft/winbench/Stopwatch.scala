package graft.winbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.util.Try

/** Time an interval took, with the hypervisor's steal taken out.
  *
  * On a shared virtual machine the host at times runs other guests on this
  * guest's vCPUs. The guest counts that time as steal (/proc/stat), and it
  * stretches every operation of a run alike: on a 4-vCPU VM, small_requests
  * runs with 8% steal read 20-25% slower than runs without. Assuming the
  * stolen time fell on the busy vCPUs in proportion to their use, the share of
  * the interval the process really ran is cpu / (cpu + steal), where cpu is
  * this process's CPU time, which the kernel does not charge steal to. [[ms]]
  * is the wall time scaled by that share; without steal it is the wall time.
  */
final case class Elapsed(wallNs: Long, cpuNs: Long, stealNs: Long) {
  def wallMs: Double = wallNs / 1e6
  def ms: Double = if (cpuNs + stealNs > 0) wallMs * cpuNs / (cpuNs + stealNs) else wallMs
}

final class Stopwatch private (wall0: Long, cpu0: Long, steal0: Long) {
  def elapsed(): Elapsed =
    Elapsed(System.nanoTime() - wall0, Stopwatch.cpuNs() - cpu0, Stopwatch.stealNs() - steal0)
}

object Stopwatch {
  def start(): Stopwatch = new Stopwatch(System.nanoTime(), cpuNs(), stealNs())

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs(): Long = os.getProcessCpuTime

  /** The machine's steal time so far; /proc/stat counts it in 1/100 s. */
  def stealNs(): Long = cpuTimes().lift(7).getOrElse(0L) * 10000000L

  /** The machine-wide CPU time counters of /proc/stat (user, nice, system,
    * idle, iowait, irq, softirq, steal, ...); empty where there are none. */
  def cpuTimes(): Seq[Long] = Try {
    new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next()
      .split("\\s+").toSeq.tail.take(8).map(_.toLong)
  }.getOrElse(Seq.empty)
}
