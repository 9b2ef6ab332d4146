package graftbench

/** Elapsed time net of hypervisor steal. On a shared virtual host the
  * hypervisor can hold back a vCPU that has work to run; the guest
  * kernel counts that as `steal` in /proc/stat. Net time scales wall
  * time by the share of runnable CPU time that was served, which
  * estimates the interval on an unshared host, so a co-tenant's load
  * does not read as a change in the engine. Raw wall time is kept
  * beside it in the run record. */
object HostCpu {

  /** (served, stolen) jiffies summed over all CPUs since boot. */
  def sample(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal ...
      (f(0) + f(1) + f(2) + f(5) + f(6), if (f.length > 7) f(7) else 0L)
    } finally src.close()
  }

  final case class Interval(wallS: Double, netS: Double, stealFrac: Double)

  def interval(wallS: Double, from: (Long, Long), to: (Long, Long)): Interval = {
    val served = to._1 - from._1
    val stolen = to._2 - from._2
    val frac = if (served + stolen > 0) stolen.toDouble / (served + stolen) else 0.0
    Interval(wallS, wallS * (1 - frac), frac)
  }

  final class Watch {
    private val t0 = System.nanoTime()
    private val c0 = sample()
    def stop(): Interval = interval((System.nanoTime() - t0) / 1e9, c0, sample())
  }
}
