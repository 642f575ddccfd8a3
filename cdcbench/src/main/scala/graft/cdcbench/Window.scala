package graft.cdcbench

/** One timed window of a workload: what it measured, what its check
  * found, and the bounds the per-layer report needs.
  *
  * `units`: the workload's unit of work in the window (a `runOnce` pass, a
  * poll, a pass of the SQL mix); per-layer rates are per unit.
  */
final case class Window(
    attempted: Long,
    failed: Long,
    problems: Seq[String],
    e2e: Map[String, Double],
    units: Int,
    startMs: Long,
    endMs: Long,
    gcMs: Long,
    /** Checked output facts, compared between the untraced and traced
      * windows of a traced run.
      */
    facts: Map[String, BigDecimal],
    extra: Map[String, Double] = Map.empty)

object Window {
  /** End-to-end metric names and units, in report order. `setup_s` and
    * `peak_rss_mb` are per process; the rest come from a window.
    */
  val E2E: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "peak_rss_mb" -> "MB",
    "rows_s" -> "rows/s",
    "cpu_s_per_mrow" -> "s",
    "bytes_per_row" -> "B",
    "freshness_p50_s" -> "s",
    "freshness_p90_s" -> "s",
  )
  val WindowMetrics: Seq[String] = E2E.map(_._1).drop(2)

  final case class Sample(cpuNs: Long, gcMs: Long, startMs: Long, endMs: Long)

  /** Runs `body` with the process CPU, GC and wall clock sampled around it. */
  def sampled[T](body: => T): (T, Sample) = {
    val c0 = Proc.cpuNanos(); val g0 = Proc.gcMillis()
    val m0 = System.currentTimeMillis()
    val r = body
    val m1 = System.currentTimeMillis()
    (r, Sample(Proc.cpuNanos() - c0, Proc.gcMillis() - g0, m0, m1))
  }

  /** Process CPU seconds per million rows. */
  def cpuPerMrow(cpuNs: Long, rows: Double): Double = Stats.s(cpuNs) / (rows / 1e6)
}
