package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class BucketedTablesSpec extends AnyFunSuite with SparkSpec
    with AdaptiveSparkPlanHelper {

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the join path under test
  }

  test("co-bucketed join plans with zero exchanges and matches the plain join") {
    val sps = spark; import sps.implicits._
    val docs = (1L to 5000L).map(i => (i, s"doc body $i")).toDF("doc_id", "text")
    val scores = (1L to 5000L by 2L).map(i => (i, i * 0.5)).toDF("doc_id", "score")
    BucketedTables.saveBucketed(docs, "b_docs", "doc_id", 8, sortCols = Seq("doc_id"))
    BucketedTables.saveBucketed(scores, "b_scores", "doc_id", 8, sortCols = Seq("doc_id"))

    val joined = BucketedTables.bucketedJoin(spark, "b_docs", "b_scores", Seq("doc_id"))
    val exchanges = collect(joined.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty,
      s"co-bucketed join must be exchange-free, found: ${exchanges.mkString(", ")}")

    // same result as the unbucketed join
    val expected = docs.join(scores, "doc_id").count()
    assert(joined.count() == expected && expected == 2500L)

    // and a groupBy on the bucket key is exchange-free too
    val agg = spark.table("b_docs").groupBy("doc_id").agg(count(lit(1)))
    val aggExchanges = collect(agg.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }
    assert(aggExchanges.isEmpty, "groupBy on the bucket key must reuse the bucketing")
  }

  test("external-path bucketed tables keep the zero-exchange join") {
    val sps = spark; import sps.implicits._
    val docs = (1L to 2000L).map(i => (i, i % 7)).toDF("doc_id", "grp")
    val scores = (1L to 2000L by 3L).map(i => (i, i * 2.0)).toDF("doc_id", "score")
    val base = Files.createTempDirectory("graft-bucketed-ext").toString
    BucketedTables.saveBucketed(docs, "b_ext_docs", "doc_id", 8,
      sortCols = Seq("doc_id"), path = Some(s"$base/docs"))
    BucketedTables.saveBucketed(scores, "b_ext_scores", "doc_id", 8,
      sortCols = Seq("doc_id"), path = Some(s"$base/scores"))
    val joined = BucketedTables.bucketedJoin(spark, "b_ext_docs", "b_ext_scores", Seq("doc_id"))
    val exchanges = collect(joined.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty, s"external bucketed join must be exchange-free: $exchanges")
    assert(joined.count() == docs.join(scores, "doc_id").count())
    // the data really lives at the external location
    assert(new java.io.File(s"$base/docs").listFiles().exists(_.getName.endsWith(".parquet")))
  }

  test("mis-bucketed pairs and wrong join keys fail fast") {
    val sps = spark; import sps.implicits._
    val other = (1L to 100L).map(i => (i, i)).toDF("doc_id", "v")
    BucketedTables.saveBucketed(other, "b_other16", "doc_id", 16)
    val err = intercept[IllegalArgumentException] {
      BucketedTables.bucketedJoin(spark, "b_docs", "b_other16", Seq("doc_id"))
    }
    assert(err.getMessage.contains("bucket counts"))
    val err2 = intercept[IllegalArgumentException] {
      BucketedTables.bucketedJoin(spark, "b_docs", "b_scores", Seq("text"))
    }
    assert(err2.getMessage.contains("bucket columns"))
  }
}
