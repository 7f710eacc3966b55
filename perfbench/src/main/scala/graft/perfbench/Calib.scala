package graft.perfbench

/** A fixed reference computation that uses no engine code: a dependent walk
  * through an 8 MB cycle (memory latency) and a sort of 32k longs (branchy
  * compute). Run on the client thread after every measured operation, its
  * CPU time measures how fast the host runs JVM code at that moment: on a
  * shared VM that speed drifts by a quarter over minutes, and the
  * operations' CPU times drift with it. */
object Calib {
  /** The kernel's median CPU time on the reference host, a 4-core Xeon VM
    * in a quiet period (ms). */
  val ReferenceMs = 5.0

  private val N = 1 << 21
  private val Steps = 1 << 14
  /** A single cycle over all N slots (Sattolo's shuffle, fixed seed). */
  private val next: Array[Int] = {
    val a = Array.tabulate(N)(identity)
    val rnd = new java.util.SplittableRandom(0x5eed)
    var i = N - 1
    while (i > 0) {
      val j = rnd.nextInt(i)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }
  private val keys: Array[Long] = {
    val rnd = new java.util.SplittableRandom(0xca1b)
    Array.fill(1 << 15)(rnd.nextLong())
  }
  private val scratch = new Array[Long](keys.length)
  /** Where the walk stopped: each run goes on along the cycle, so runs back
    * to back touch fresh cache lines, as the first run after an operation
    * does. */
  private var at = 0
  @volatile private var sink = 0L

  /** One run of the kernel. */
  def once(): Unit = {
    var p = at
    var k = 0
    while (k < Steps) { p = next(p); k += 1 }
    at = p
    System.arraycopy(keys, 0, scratch, 0, keys.length)
    java.util.Arrays.sort(scratch)
    sink = p + scratch(keys.length / 2)
  }
}
