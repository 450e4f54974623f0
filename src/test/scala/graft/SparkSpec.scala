package graft

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** The session every Spark suite runs in: [[LocalSpark]]'s, so graft comes
  * in through the extension and a spec checks the plans the mains build.
  * Cores and shuffle partitions are pinned at 4, so a spec's partitioning
  * does not depend on the machine; the warehouse is the suite's own temp
  * directory. Each suite starts and stops its own session: static settings
  * stay as built here and no runtime setting leaks into the next suite.
  */
trait SparkSpec extends BeforeAndAfterAll { this: Suite =>

  @transient private var session: SparkSession = _
  private var warehouse: String = _

  protected def spark: SparkSession = session

  override def beforeAll(): Unit = {
    warehouse = Files.createTempDirectory("graft_spec_wh_").toString
    session = LocalSpark.session("4", Map("spark.sql.warehouse.dir" -> warehouse))
    super.beforeAll()
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally {
      if (session != null) LocalSpark.stop(session)
      FileUtils.deleteDirectory(new File(warehouse))
    }
}
