package bench

/** A fixed memory-bound probe of the host: a dependent-load chase
  * through a 32 MB random cycle. Its time moves with the machine's
  * memory system, not with the engine, so it tells host noise from
  * code changes. A diagnostic only; no metric is normalised by it.
  */
object HostProbe {
  def run(): Double = {
    val n = 1 << 23
    val next = new Array[Int](n)
    var i = 0
    while (i < n) { next(i) = i; i += 1 }
    // Sattolo's algorithm: one cycle through every slot.
    val rnd = new java.util.SplittableRandom(7L)
    i = n - 1
    while (i > 0) {
      val j = rnd.nextInt(i)
      val t = next(i); next(i) = next(j); next(j) = t
      i -= 1
    }
    val t0 = System.nanoTime()
    var p = 0
    var k = 0
    while (k < 5000000) { p = next(p); k += 1 }
    val dt = (System.nanoTime() - t0) / 1e9
    if (p == -1) println(p)
    dt
  }
}
