package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite

/** Shuffle-bytes budgets for the widest-shuffle gates, pinned as specs so
  * a scale-killer plan change (pair blowup, shuffling text instead of ids,
  * a lost partial aggregation) fails HERE at sf0.1 instead of surfacing in
  * the next sf10 sweep. The budget unit is shuffle-bytes-written per input
  * document — the quantity that must stay ~constant for an operator whose
  * shuffles are supposed to scale linearly with the corpus.
  *
  * Budgets are ~3x the round-12 measured values (SCALE.md), loose enough
  * for partition-count and codec jitter, tight enough that a quadratic
  * regression (the 10-100x class the sf10 sweep caught twice) trips them:
  *   q_containment   ~6.9 KB/doc measured -> 20 KB/doc budget
  *   q_ngram_jaccard ~6.9 KB/doc measured -> 20 KB/doc budget
  *   q_minhash_near_dup ~0.7 KB/doc measured -> 4 KB/doc budget
  *   q_token_drift   ~0.1 KB/doc measured -> 2 KB/doc budget
  */
class ShuffleBudgetSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.1"

  private final class ShuffleListener extends SparkListener {
    val shuffleWritten = new LongAdder
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) shuffleWritten.add(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  @transient private var listener: ShuffleListener = _
  private var docs: Long = 0L

  override def beforeAll(): Unit = {
    super.beforeAll()
    listener = new ShuffleListener
    spark.sparkContext.addSparkListener(listener)
    docs = spark.read.parquet(s"$sfDir/documents.parquet").count()
  }

  /** Runs a gate end to end (noop sink — full execution, no collect) and
    * returns shuffle bytes written per input document. Shared relations
    * are cleared first so a gate pays for its own shuffles, not a
    * cached predecessor's.
    */
  private def shuffleBytesPerDoc(gate: String): Double = {
    SparkEntry.clearSharedRelations()
    spark.catalog.clearCache()
    listener.shuffleWritten.reset()
    SparkEntry.queries(gate)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    // listener events drain asynchronously; settle before reading (same
    // contract as tools/ConstrainedProbe)
    Thread.sleep(500)
    listener.shuffleWritten.sum().toDouble / docs
  }

  private def assertBudget(gate: String, budgetBytesPerDoc: Double): Unit = {
    val perDoc = shuffleBytesPerDoc(gate)
    info(f"$gate: $perDoc%.0f shuffle bytes/doc (budget $budgetBytesPerDoc%.0f)")
    assert(perDoc <= budgetBytesPerDoc,
      f"$gate shuffles $perDoc%.0f bytes per input doc at sf0.1 — over the " +
        f"$budgetBytesPerDoc%.0f budget. A plan change made a shuffle " +
        "superlinear (pair blowup / lost partial agg / payload widening); " +
        "fix the plan or re-justify the budget in this spec + SCALE.md.")
    assert(perDoc > 0.0, s"$gate reported zero shuffle — measurement broke")
  }

  test("q_containment stays inside its shuffle budget") {
    assertBudget("q_containment", 20 * 1024.0)
  }

  test("q_ngram_jaccard stays inside its shuffle budget") {
    assertBudget("q_ngram_jaccard", 20 * 1024.0)
  }

  test("q_minhash_near_dup stays inside its shuffle budget") {
    assertBudget("q_minhash_near_dup", 4 * 1024.0)
  }

  test("q_token_drift stays inside its shuffle budget") {
    assertBudget("q_token_drift", 2 * 1024.0)
  }
}
