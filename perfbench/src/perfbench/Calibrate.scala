package perfbench

/** A fixed piece of JVM work that uses none of the engine: fill an array
  * of 2^19 longs from a fixed xorshift sequence and sort it. Timed before
  * every operation, it tells how fast the host runs at that moment. */
object Calibrate {
  private val data = new Array[Long](1 << 19)

  /** Seconds the work took. */
  def sample(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < data.length) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      data(i) = x
      i += 1
    }
    java.util.Arrays.sort(data)
    (System.nanoTime() - t0) / 1e9
  }
}
