package graft

/** The one spelling of the environment-contention probes the gating
  * artifacts (Bench, ScaleSmoke) stamp themselves with — a fix here
  * (e.g. jiffy-accounting subtleties) lands in every artifact at once
  * instead of three drifting copies (review finding).
  */
object SysStat {

  /** The core count a main sizes its local session with:
    * SPARK_GRAFT_CPUS when set, else this machine's processor count.
    */
  private[graft] def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** (cumulative steal jiffies, total jiffies) from /proc/stat's
    * aggregate cpu line; (-1, -1) where /proc/stat is absent.
    */
  def cpuSteal(): (Long, Long) =
    try {
      val parts = scala.io.Source.fromFile("/proc/stat").getLines()
        .next().trim.split("\\s+").drop(1).map(_.toLong)
      // denominator: user..steal (first 8 fields) ONLY — guest and
      // guest_nice are already accounted inside user/nice, so summing
      // the whole line double-counts guest time and understates
      // steal_pct right where the 2% gate lives (r9 advice)
      (if (parts.length > 7) parts(7) else 0L, parts.take(8).sum)
    } catch { case _: Throwable => (-1L, -1L) }

  /** % of machine cpu-time the hypervisor withheld between two
    * [[cpuSteal]] samples; -1 when unmeasurable.
    */
  def stealPct(s0: Long, j0: Long, s1: Long, j1: Long): Double =
    if (s0 < 0 || j1 <= j0) -1.0
    else 100.0 * (s1 - s0) / (j1 - j0)

  /** 1-minute load average (0 where the platform reports none). */
  def loadAvg: Double =
    math.max(0.0, java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage)
}
