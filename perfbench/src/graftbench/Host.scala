package graftbench

/** Fixed host calibration: a single-threaded ALU loop plus concurrent
  * 64 MB memory sweeps, timed before and after a run. It is run
  * metadata, not a metric: identical code has measured 25-50% apart
  * in different phases of a shared host, and a run whose two probes
  * disagree straddled such a phase change. */
object Host {
  def cpuProbeS(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 100000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    if (x == 42L) System.err.print("")
    (System.nanoTime() - t0) / 1e9
  }

  def memProbeS(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { t =>
      new Thread(() => {
        val buf = new Array[Long](8 * 1024 * 1024)
        var j = 0
        while (j < buf.length) { buf(j) = j + t; j += 1 }
        var s = 0L; var r = 0
        while (r < 4) { j = 0; while (j < buf.length) { s += buf(j); j += 1 }; r += 1 }
        if (s == 42L) System.err.print("")
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** (cpu seconds, memory-bandwidth seconds), best of two each. */
  def probe(threads: Int): (Double, Double) =
    (math.min(cpuProbeS(), cpuProbeS()), math.min(memProbeS(threads), memProbeS(threads)))
}
