package graft

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The gate registry's own state: what gates leave on disk once they
  * return, and the [[SharedRelation]] memo behind the shared relations.
  */
class GateRegistrySpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  @transient private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-gate-registry-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftSparkExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmpEntries(prefix: String): Set[String] =
    Option(new File(System.getProperty("java.io.tmpdir")).list())
      .fold(Set.empty[String])(_.filter(_.startsWith(prefix)).toSet)

  test("q_filter_store deletes the catalog directory it creates") {
    val before = tmpEntries("graft_fstore_")
    val rows = SparkEntry.queries("q_filter_store")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val leaked = tmpEntries("graft_fstore_") -- before
    assert(leaked.isEmpty, s"q_filter_store left ${leaked.mkString(", ")} behind")
  }

  test("a shared relation is built once per (session, dir) and again after a clear") {
    var builds = 0
    var released = 0
    val rel = new SharedRelation[Int]((_, _) => { builds += 1; builds }, _ => released += 1)
    assert(rel(spark, "a") == 1)
    assert(rel(spark, "a") == 1)
    assert(rel(spark, "b") == 2)
    assert(rel(spark.newSession(), "a") == 3)
    SparkEntry.clearSharedRelations()
    assert(released == 3)
    assert(rel(spark, "a") == 4)
  }

  test("shared checkpoints live in a directory removed at exit and emptied by a clear") {
    val dir = SharedRelation.dir
    assert(streaming.FileStreams.createdDirs.contains(dir.toPath))
    SparkEntry.prepare(spark, sfDir)
    assert(gates.DedupGates.sharedJaccardPairs(spark, sfDir).count() >= 0)
    assert(dir.list().nonEmpty)
    SparkEntry.clearSharedRelations()
    assert(dir.isDirectory)
    assert(dir.list().isEmpty, dir.list().mkString(", "))
  }

  test("a clear releases the prepared graph's blocks and keeps the minhash stage") {
    SparkEntry.prepare(spark, sfDir)
    val graph = gates.GraphGates.sharedPreparedGraph(spark, sfDir)
    val blocks = graph.eDeg.queryExecution.analyzed match { case r: LogicalRDD => r.rdd }
    assert(blocks.getStorageLevel != StorageLevel.NONE)
    assert(gates.DedupGates.sharedMinhashPairs(spark, sfDir).count() >= 0)
    val stage = new File(gates.DedupGates.minhashPairsStagePath)
    SparkEntry.clearSharedRelations()
    assert(blocks.getStorageLevel == StorageLevel.NONE)
    assert(stage.list().exists(_.endsWith(".parquet")))
  }
}
