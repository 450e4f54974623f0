package graft

import org.apache.spark.sql.catalyst.plans.logical.Join
import org.scalatest.funsuite.AnyFunSuite

/** The production entry point: a session built with
  * `spark.sql.extensions=graft.GraftSparkExtensions` gets the full function
  * surface AND the optimizer rule without any programmatic call.
  */
class GraftExtensionsSpec extends AnyFunSuite with SparkSpec {

  test("config-driven extensions register functions and optimizer rule") {
    // every registered function resolves
    GraftFunctions.all.foreach { fn =>
      assert(spark.sessionState.functionRegistry
        .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(fn.name)), fn.name)
    }
    // a filter function works end-to-end
    val cnt = spark.sql("""
      SELECT COUNT(*) FROM range(1, 1001)
      WHERE xor8_filter_contains(
        (SELECT xor8_filter(bitfilters_duckdb_hash('v1.5.1', id)) FROM range(1, 1001)),
        bitfilters_duckdb_hash('v1.5.1', id))""").head().getLong(0)
    assert(cnt == 1000L)
    // the injected FoldSingleRowJoin rule fires (no join in the plan)
    spark.range(1, 1001).toDF("id").createOrReplaceTempView("big_ext")
    val q = spark.sql("""
      SELECT count(*) FROM big_ext,
        (SELECT xor8_filter(bitfilters_duckdb_hash('v1.5.1', id)) AS f FROM big_ext) flt
      WHERE xor8_filter_contains(f, bitfilters_duckdb_hash('v1.5.1', id))""")
    assert(!q.queryExecution.optimizedPlan.exists(_.isInstanceOf[Join]))
    assert(q.head().getLong(0) == 1000L)
    // catalog metadata parity: every function carries arguments + a
    // runnable example, surfaced by DESCRIBE FUNCTION EXTENDED
    GraftFunctions.all.foreach { fn =>
      val name = fn.name
      assert(fn.usage.nonEmpty && fn.arguments.nonEmpty && fn.examples.nonEmpty, s"empty doc for $name")
      val described = spark.sql(s"DESCRIBE FUNCTION EXTENDED $name")
        .collect().map(_.getString(0)).mkString("\n")
      assert(described.contains("Examples:"), s"$name: no examples in\n$described")
      assert(described.contains("Arguments:"), s"$name: no arguments in\n$described")
      // the class every graft function's catalog info names
      assert(described.contains(s"Class: ${GraftFunctions.getClass.getName}"), described)
    }
    // the documented examples actually run
    val exampleSql = "SELECT bitfilters_duckdb_hash('v1.5.1', 42)"
    assert(spark.sql(exampleSql).head().getLong(0) != 0L)

    // prepare() must re-register the table views when a session RETURNS
    // to a dir after another dir replaced them (regression: a
    // (session, dir)-keyed memo early-returned with the other dir's
    // views still bound — Bench's cross-SF warmup pass then timed the
    // warmup fixture's tables)
    val dirA = "/root/testdata/sf0.001"
    val dirB = "/root/testdata/sf0.01"
    SparkEntry.prepare(spark, dirA)
    // the extension already runs both rules: prepare adds neither a
    // second time as an extra optimization
    assert(spark.experimental.extraOptimizations.isEmpty,
      spark.experimental.extraOptimizations.map(_.ruleName).mkString(", "))
    val nA = spark.table("lineitem").count()
    SparkEntry.prepare(spark, dirB)
    val nB = spark.table("lineitem").count()
    assert(nB > nA, s"sf0.01 should have more lineitems ($nB vs $nA)")
    SparkEntry.prepare(spark, dirA)
    assert(spark.table("lineitem").count() == nA,
      "returning to dir A left dir B's views bound")
  }
}
