package graft.tools

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Constrained-memory scale probe: runs named SparkEntry gates under
  * whatever heap the launching JVM was given (`-Xmx...`) and reports the
  * executor-side memory behavior that a 100 TB cluster run would exhibit —
  * shuffle/aggregation SPILL instead of OOM.
  *
  * `java -Xmx4g -cp ... graft.tools.ConstrainedProbe <sfDir> <gate> [gate...]`
  *
  * Per gate it prints wall time plus task-metric totals accumulated by a
  * listener: bytes spilled to memory/disk, peak execution memory, shuffle
  * bytes written, and GC time. The point is a PASS/FAIL demonstration:
  * the widest shuffles (minhash banding, exact-pair emission, salted join)
  * must complete by spilling when execution memory is scarce — a gate that
  * OOMs here would OOM an executor at scale. Results recorded in SCALE.md.
  */
object ConstrainedProbe {
  private final class MetricsListener extends SparkListener {
    val memSpilled = new LongAdder
    val diskSpilled = new LongAdder
    val shuffleWritten = new LongAdder
    val gcMillis = new LongAdder
    val peakExecMem = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        memSpilled.add(m.memoryBytesSpilled)
        diskSpilled.add(m.diskBytesSpilled)
        shuffleWritten.add(m.shuffleWriteMetrics.bytesWritten)
        gcMillis.add(m.jvmGCTime)
        peakExecMem.accumulateAndGet(m.peakExecutionMemory, math.max)
      }
    }
    def snapshot(): (Long, Long, Long, Long, Long) =
      (memSpilled.sum(), diskSpilled.sum(), shuffleWritten.sum(), gcMillis.sum(), peakExecMem.get())
    def reset(): Unit = { memSpilled.reset(); diskSpilled.reset(); shuffleWritten.reset(); gcMillis.reset(); peakExecMem.set(0L) }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ConstrainedProbe <sfDir> <gate> [gate...]")
    val sfDir = args(0)
    val gates = args.drop(1).toSeq
    val spark = graft.LocalSpark.session(defaultCpus = 8)
    val heapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    println(s"[constrained] heap=${heapMb}MB cores=${spark.sparkContext.defaultParallelism} sfDir=$sfDir")
    val listener = new MetricsListener
    spark.sparkContext.addSparkListener(listener)
    gates.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      graft.SparkEntry.clearSharedRelations()
      listener.reset()
      val t0 = System.nanoTime()
      val outcome =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); "ok" }
        catch { case e: Throwable => s"FAIL ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}" }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      // listener events drain asynchronously; settle before reading
      // (listenerBus.waitUntilEmpty is private[spark]; a short sleep after
      // the job's synchronous completion is enough for a probe report)
      Thread.sleep(500)
      val (mem, disk, shuf, gc, peak) = listener.snapshot()
      println(f"[constrained] $name outcome=$outcome wall=$dt%.1fs " +
        f"spill_mem=${mem / 1e6}%.0fMB spill_disk=${disk / 1e6}%.0fMB " +
        f"shuffle_write=${shuf / 1e6}%.0fMB peak_exec_mem=${peak / 1e6}%.0fMB gc=${gc / 1e3}%.1fs")
    }
    graft.LocalSpark.stop(spark)
  }
}
