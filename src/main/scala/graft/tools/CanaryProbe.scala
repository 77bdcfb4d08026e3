package graft.tools

/** Machine-health probe: prints the single-thread and session-width
  * aggregate CPU canaries [[graft.Bench]] gates on, so a session can
  * check whether the host is in a starvation window BEFORE spending
  * minutes on a bench run (or trust/distrust one it just made).
  *
  * The parallel probe runs at the SAME width Bench gates at
  * ([[graft.Session.cpus]]) and prints the matching floor
  * (width × 750), so probe and gate measure the same quantity — an
  * 8-thread probe on a 32-wide session can read "healthy ~10-14k"
  * while a reduced-core window still starves the 32-wide bench
  * below its ~24k floor.
  *
  * Healthy (BASELINE.md): ~1,500-1,900 single; parallel ≈ width ×
  * 1,500. Slow-core window: both low. Reduced-core window: single
  * healthy, parallel well under the floor — local[N] timings there
  * are garbage.
  *
  * Usage: `CanaryProbe [rounds] [threads]` — threads defaults to the
  * session width.
  */
object CanaryProbe {
  def main(args: Array[String]): Unit = {
    val rounds = if (args.nonEmpty) args(0).toInt else 3
    val threads = math.max(2,
      if (args.length > 1) args(1).toInt
      else graft.Session.cpus)
    val floor = threads * 750
    // Warm both canary paths so round 1 is not JIT-cold.
    graft.Bench.canaryMops(); graft.Bench.parallelCanaryMops(threads)
    for (i <- 1 to rounds) {
      val s = graft.Bench.canaryMops()
      val p = graft.Bench.parallelCanaryMops(threads)
      val verdict = if (s >= 600 && p >= floor) "HEALTHY" else "STARVED"
      println(f"[canary] round $i: single $s%.1f mops, $threads%d-thread $p%.1f mops (floor $floor%d) -> $verdict")
    }
  }
}
