package perfbench

/** Fixed amounts of work, independent of the program under test, run on
  * `cores` threads at once: a register-only loop, and a walk over a
  * 64 MB array in pseudo-random order, so that it misses the caches. Their wall times go into the
  * record at the start and the end of a run, so that a change in the
  * host's speed (its CPUs, or the memory bandwidth that neighbours
  * share) can be told apart from a change in the program. */
object HostProbe {
  private val CpuSteps = 50000000L
  private val MemSteps = 1000000

  /** Wall seconds of the CPU loop and of the memory walk. */
  def run(cores: Int): Map[String, Double] = {
    // zeros, read only to make each step's address depend on the last
    // load, so the walk waits on memory at every step
    val t = new Array[Int](1 << 24)
    Map("cpu" -> parallel(cores) { i =>
      var x = i.toLong
      var k = 0L
      while (k < CpuSteps) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; k += 1 }
      x
    }, "mem" -> parallel(cores) { i =>
      var p = i
      var k = 0
      while (k < MemSteps) { p = (p * 1103515245 + 12345 + t(p)) & ((1 << 24) - 1); k += 1 }
      p.toLong
    })
  }

  private def parallel(cores: Int)(work: Int => Long): Double = {
    val sink = new java.util.concurrent.atomic.AtomicLong
    val threads = (1 to cores).map(i => new Thread(() => { sink.addAndGet(work(i)); () }))
    val t0 = System.nanoTime()
    threads.foreach(_.start())
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}
