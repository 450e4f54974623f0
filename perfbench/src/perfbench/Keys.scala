package perfbench

import org.apache.spark.sql.catalyst.expressions.XXH64

/** Seeded keys that Spark SQL and the JVM compute identically:
  * `xx(a, b)` is Spark's `xxhash64(a, b)` over two BIGINTs.
  */
object Keys {
  /** Keeps timed loops from being optimised away. */
  @volatile var blackhole = 0L
  def xx(a: Long, b: Long): Long = XXH64.hashLong(b, XXH64.hashLong(a, 42L))
  def salts(seed: Long): (Long, Long, Long) = (xx(seed, 1), xx(seed, 2), xx(seed, 3))

  /** Threads for the benchmark's own set-up and reference work, which is
    * not the program under test and may use every CPU.
    */
  val cores: Int = Runtime.getRuntime.availableProcessors

  /** Runs `body(lo, hi)` over [0, n) in `parts` parallel slices. */
  def parallel[T](n: Int, parts: Int)(body: (Int, Int) => T): Seq[T] = {
    val step = (n + parts - 1) / parts
    val ts = (0 until parts).map { p =>
      new java.util.concurrent.FutureTask[T](() => body(p * step, math.min(n, (p + 1) * step)))
    }
    ts.foreach(t => new Thread(t).start())
    ts.map(_.get())
  }

  /** The L2 cache size sysfs reports for cpu0, or -1. */
  def l2Bytes: Long = try {
    val s = scala.io.Source.fromFile("/sys/devices/system/cpu/cpu0/cache/index2/size")
    try {
      val v = s.mkString.trim
      if (v.endsWith("K")) v.dropRight(1).toLong * 1024
      else if (v.endsWith("M")) v.dropRight(1).toLong * 1048576 else v.toLong
    } finally s.close()
  } catch { case _: Exception => -1L }
}
