package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.GraftFunctions

/** The nanos-rebuild pushdown rule (round 16): time-range filters over
  * `timestamp_micros(c div 1000)` must reach the parquet scan as plain
  * bounds on the raw nanos long, and must never change the row set —
  * including at the ±999 ns truncation edges and for negative (pre-epoch)
  * nanos, where `div` truncates toward zero rather than flooring.
  */
class PushNanosTimestampFiltersSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private var spark: SparkSession = _
  @transient private var dir: String = _

  // nanos fixture: both truncation edges of every micro bucket around the
  // epoch, plus far values — q = c div 1000 truncates toward zero
  private val nanos = Seq(-2001L, -2000L, -1999L, -1001L, -1000L, -999L,
    -1L, 0L, 1L, 999L, 1000L, 1001L, 1999L, 2000L, 2001L, 123456789L)

  override def beforeAll(): Unit = {
    // the registerAll fallback pin: a session graft did not build (rules after pushdown)
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-nanos-pushdown-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.registerAll(spark)
    dir = java.nio.file.Files.createTempDirectory("graft_nanos_pd_").toString
    val sps = spark; import sps.implicits._
    nanos.zipWithIndex.map { case (n, i) => (i.toLong, n) }
      .toDF("id", "ts").write.mode("overwrite").parquet(dir)
  }

  override def afterAll(): Unit = if (spark != null) graft.LocalSpark.stop(spark)

  /** The prepare()-shaped view: raw nanos long rebuilt as a micros timestamp. */
  private def view: DataFrame =
    graft.streaming.FileStreams.normalizeTimestamps(
      spark.read.parquet(dir), Seq("ts"))

  private def runWithoutRule[T](f: => T): T = {
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev.filterNot(_ == PushNanosTimestampFilters)
    try f finally spark.experimental.extraOptimizations = prev
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("time-range filter reaches the parquet scan as a PushedFilter on the nanos long") {
    val q = view.where(col("ts") >= lit("1970-01-01 00:00:00.000001").cast("timestamp"))
    val plan = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("GreaterThanOrEqual(ts,"),
      s"no nanos-space bound in PushedFilters:\n$plan")
    val before = runWithoutRule {
      view.where(col("ts") >= lit("1970-01-01 00:00:00.000001").cast("timestamp"))
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    }
    assert(!before.contains("GreaterThanOrEqual(ts,"),
      "fixture too easy: the bound pushed without the rule")
  }

  test("row sets are unchanged for every comparison shape, truncation edges included") {
    // expected sets computed from the raw longs with the exact div semantics
    def q(c: Long): Long = c / 1000 // Scala / on Long == Spark div (toward zero)
    val cases: Seq[(String, Long => Boolean)] = Seq(
      ("ts >= timestamp'1970-01-01 00:00:00.000001'", c => q(c) >= 1),
      ("ts >  timestamp'1970-01-01 00:00:00.000001'", c => q(c) > 1),
      ("ts <= timestamp'1969-12-31 23:59:59.999999'", c => q(c) <= -1),
      ("ts <  timestamp'1969-12-31 23:59:59.999999'", c => q(c) < -1),
      ("ts =  timestamp'1970-01-01 00:00:00'", c => q(c) == 0),
      ("timestamp'1970-01-01 00:00:00.000001' <= ts", c => q(c) >= 1),
      ("ts >= timestamp'1970-01-01 00:00:00.000001' AND ts < timestamp'1970-01-01 00:00:00.000002'",
        c => q(c) >= 1 && q(c) < 2))
    for ((cond, pred) <- cases) {
      val expected = nanos.zipWithIndex.collect {
        case (c, i) if pred(c) => i.toLong
      }.sorted.toSeq
      val withRule = ids(view.where(expr(cond)))
      val withoutRule = runWithoutRule(ids(view.where(expr(cond))))
      assert(withRule == expected, s"[$cond] with rule: $withRule vs $expected")
      assert(withRule == withoutRule, s"[$cond] rule changed the row set")
    }
  }

  test("non-literal and non-rebuild comparisons are left alone") {
    // ts vs a column: no literal bound to derive — must not throw or rewrite
    val self = view.as("a").join(view.as("b"), expr("a.ts >= b.ts"))
    assert(self.count() >= nanos.size) // executes fine
    // plain long column filters are untouched by the rule (already pushable)
    assert(ids(view.where(col("id") >= 8)) == (8L until nanos.size).toSeq)
  }
}
