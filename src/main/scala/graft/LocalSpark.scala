package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.state.StateStore

/** The local session graft's mains and specs run in: `local[n]`; one
  * shuffle partition per core; UTC; no UI; Spark logging at WARN. The graft
  * functions and optimizer rules come through [[GraftSparkExtensions]],
  * the production placement: the rules run inside the operator-optimization
  * batch, so rewritten probe filters reach the scans.
  */
object LocalSpark {
  /** A main's session: n from `SPARK_GRAFT_CPUS`, else the program's own default. */
  def session(defaultCpus: Int): SparkSession =
    session(sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString), Map.empty)

  /** The session on `cpus` cores, with `conf` on top of the shared settings. */
  def session(cpus: String, conf: Map[String, String]): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", classOf[GraftSparkExtensions].getName)
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The end of every main: stop the state stores, then the session.
    * `StateStore.stop()` ends the state-store maintenance thread and
    * closes every loaded provider while SparkEnv is still up; left running,
    * the thread can fire after `spark.stop()` and log "SparkEnv not
    * active, cannot do maintenance".
    */
  def stop(spark: SparkSession): Unit = {
    StateStore.stop()
    spark.stop()
  }
}
