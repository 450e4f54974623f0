package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The state-store crossover probe: streaming exact dedup over a key
  * universe deliberately sized PAST the JVM heap, under each provider.
  *
  * The HDFS-backed provider (the default) keeps every partition's full
  * state map ON-HEAP between micro-batches — disk is only the commit
  * log — so executor heap must scale with the distinct-key universe:
  * ~56 B of UnsafeRow (8 B long key + two 28-B row envelopes) plus
  * ~100 B of HashMap entry/boxing overhead per key puts 50M keys at
  * ~7 GB of resident heap. RocksDB keeps the working state in native
  * memory + SST files (heap stays O(block cache)). A
  * [[graft.streaming.FileStreams.runAvailableNow]] drain runs under
  * whichever provider the session names in Spark's own
  * `spark.sql.streaming.stateStore.providerClass`; the r13 A/B only
  * measured kilobyte state (+14% flat cost), this probe measures the
  * regime where RocksDB is the one to name.
  *
  * Usage (run under a deliberately small heap):
  *   SPARK_DRIVER_MEM=2g tools/run_main.sh graft.tools.StateStoreScaleProbe \
  *     <hdfs|rocksdb> [numKeys=50000000] [workDir=/tmp/ssprobe]
  *
  * Prints one RESULT line on success; an OOM kills the JVM (nonzero
  * exit), which IS the measured outcome for the heap-bound provider.
  */
object StateStoreScaleProbe {
  def main(args: Array[String]): Unit = {
    val provider = args(0)
    val numKeys = if (args.length > 1) args(1).toLong else 50000000L
    val workDir = if (args.length > 2) args(2) else "/tmp/ssprobe"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val providerClass = provider match {
      case "rocksdb" =>
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      case "hdfs" =>
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
      case other => throw new IllegalArgumentException(s"hdfs|rocksdb, got $other")
    }
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", providerClass)

    // staged input: numKeys distinct longs (all unique — worst case for
    // dedup state), written once and reused across provider runs so both
    // providers read identical bytes
    val inDir = s"$workDir/in_$numKeys"
    if (!new java.io.File(s"$inDir/_SUCCESS").exists()) {
      spark.range(numKeys).select(col("id").as("key"))
        .repartition(32).write.mode("overwrite").parquet(inDir)
      println(s"[ssprobe] staged $numKeys keys at $inDir")
    }
    val ckpt = s"$workDir/ckpt_${provider}_$numKeys"
    graft.streaming.FileStreams.deleteTree(java.nio.file.Paths.get(ckpt))

    val t0 = System.nanoTime()
    val q = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("key",
          org.apache.spark.sql.types.LongType))))
      .parquet(inDir)
      .dropDuplicates("key")
      .writeStream.format("noop")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
    println(f"[ssprobe] RESULT provider=$provider keys=$numKeys wall=$wall%.1f s " +
      f"usedHeapMB=$heapMb maxHeapMB=${rt.maxMemory() / (1024 * 1024)}")
    graft.LocalSpark.stop(spark)
  }
}
