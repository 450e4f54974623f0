package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.Join
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.streaming.FileStreams

/** Optimizer-rule tests: single-row-aggregate joins fold into scalar
  * subqueries (the blob-carrying-join hazard; see FoldSingleRowJoin docs).
  */
class FoldSingleRowJoinSpec extends AnyFunSuite with SparkSpec {

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.range(1, 10001).toDF("id").createOrReplaceTempView("big")
    spark.range(1, 5001).toDF("k").createOrReplaceTempView("dim")
  }

  private def hasJoin(q: String): Boolean =
    spark.sql(q).queryExecution.optimizedPlan.exists(_.isInstanceOf[Join])

  test("cross join with 1-row filter aggregate folds to a scalar subquery") {
    val q = """
      SELECT count(*) AS cnt
      FROM big, (SELECT xor8_filter(bitfilters_duckdb_hash('v1.5.1', k)) AS f FROM dim) flt
      WHERE xor8_filter_contains(f, bitfilters_duckdb_hash('v1.5.1', id))"""
    assert(!hasJoin(q), "single-row-aggregate join should have been folded away")
    // members 1..5000 all probe true (no false negatives); 5001..10000 may
    // add a few false positives (~0.4%)
    val cnt = spark.sql(q).collect().head.getLong(0)
    assert(cnt >= 5000 && cnt < 5100, s"got $cnt")
  }

  test("fold preserves results vs rule-free execution") {
    val q = """
      SELECT count(*) AS cnt
      FROM big, (SELECT bitfilters_duckdb_bloom_filter_create('v1.5.1', 16384,
                   bitfilters_duckdb_hash('v1.5.1', k)) AS f FROM dim) flt
      WHERE bitfilters_duckdb_bloom_filter_probe('v1.5.1', f, id)"""
    val withRule = spark.sql(q).collect().head.getLong(0)
    FileStreams.withSessionConf(spark,
        Map("spark.sql.optimizer.excludedRules" -> FoldSingleRowJoin.ruleName)) {
      assert(hasJoin(q), "excluding the rule should have kept the join")
      assert(spark.sql(q).collect().head.getLong(0) == withRule)
    }
  }

  test("multi-row aggregate joins are left alone") {
    val q = """
      SELECT count(*) AS cnt
      FROM big JOIN (SELECT k % 4 AS g, count(*) AS c FROM dim GROUP BY k % 4) flt
        ON big.id % 4 = flt.g"""
    assert(hasJoin(q), "grouped aggregate must not be folded")
  }

  test("non-aggregate single-column subqueries are left alone") {
    val q = "SELECT count(*) AS cnt FROM big JOIN dim ON big.id = dim.k"
    assert(hasJoin(q))
  }

  test("projected single-row aggregate still folds") {
    val q = """
      SELECT count(*) AS cnt
      FROM big, (SELECT f FROM (SELECT xor16_filter(bitfilters_duckdb_hash('v1.5.1', k)) AS f
                                FROM dim)) flt
      WHERE xor16_filter_contains(f, bitfilters_duckdb_hash('v1.5.1', id))"""
    assert(!hasJoin(q))
    assert(spark.sql(q).collect().head.getLong(0) >= 5000)
  }

  test("streaming big side is never rewritten (subqueries are illegal in streams)") {
    implicit val sqlCtx = spark.sqlContext
    val sps = spark; import sps.implicits._
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val stream = input.toDF().toDF("id")
    val oneRow = spark.sql("SELECT max(k) AS mx FROM dim")
    val joined = stream.crossJoin(oneRow)
      .where(org.apache.spark.sql.functions.col("id") <= org.apache.spark.sql.functions.col("mx"))
    // apply the rule directly to the analyzed plan (a streaming Dataset
    // cannot be batch-optimized/executed)
    val rewritten = FoldSingleRowJoin(joined.queryExecution.analyzed)
    assert(rewritten.exists(_.isInstanceOf[Join]),
      "stream-batch join must be left for Spark's streaming planner")
  }
}
