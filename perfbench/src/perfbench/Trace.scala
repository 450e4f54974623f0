package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Times are epoch milliseconds for
  * listener-derived spans and epoch-based nanoseconds / 1e6 for spans the
  * benchmark times itself, so both share one clock.
  */
final case class Span(id: Long, parent: Long, op: Long, layer: String, name: String,
    startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Counters of one stage, summed over its tasks. */
final class StageStats(val stageId: Int, val jobId: Int) {
  var startMs, endMs = 0.0
  var tasks, runMs, cpuNs, gcMs, schedulerDelayMs = 0L
  var shuffleWrite, shuffleRead, spill, peakExecMem = 0L
}

/** Spark-side collector for traced runs: job and stage spans plus task
  * metrics from a SparkListener, planning phases from a
  * QueryExecutionListener, and analyzer/optimizer rule time from
  * RuleExecutor's metering. Everything is kept in memory until the run ends.
  */
final class SparkCollector(spark: SparkSession) extends SparkListener {
  private val jobs = ArrayBuffer.empty[(Int, Double, Double)]
  private val stages = scala.collection.mutable.LinkedHashMap.empty[Int, StageStats]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Double]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]
  @volatile var planMs = 0.0

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = synchronized {
      val phases = qe.tracker.phases
      planMs += Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
        QueryPlanningTracker.PLANNING).flatMap(phases.get).map(_.durationMs).sum
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(qeListener)
  }

  def drain(): Unit = PerfbenchAccess.drainListeners(spark.sparkContext)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time.toDouble
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((e.jobId, s, e.time.toDouble)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val st = stage(info.stageId)
    st.startMs = info.submissionTime.getOrElse(0L).toDouble
    st.endMs = info.completionTime.getOrElse(0L).toDouble
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m == null) return
    val st = stage(e.stageId)
    st.tasks += 1
    st.runMs += m.executorRunTime
    st.cpuNs += m.executorCpuTime
    st.gcMs += m.jvmGCTime
    st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
    st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    st.peakExecMem = math.max(st.peakExecMem, m.peakExecutionMemory)
    val info = e.taskInfo
    st.schedulerDelayMs += math.max(0L, info.duration - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
  }

  private def stage(id: Int): StageStats =
    stages.getOrElseUpdate(id, new StageStats(id, stageJob.getOrElse(id, -1)))

  /** Jobs that started inside [fromMs, toMs]; ops run one at a time, so the
    * window identifies the operation that caused them.
    */
  def jobsIn(fromMs: Double, toMs: Double): Seq[(Int, Double, Double)] = synchronized {
    jobs.filter(j => j._2 >= fromMs - 1 && j._2 <= toMs + 1).toSeq
  }

  def stagesOf(jobIds: Set[Int]): Seq[StageStats] = synchronized {
    stages.values.filter(s => jobIds.contains(s.jobId)).toSeq
  }
}

/** Analyzer and optimizer rule metering (global, synchronous). */
object RuleMeter {
  final case class Snap(totalNs: Long, runs: Long, effective: Long, perRuleNs: Map[String, Long]) {
    def -(o: Snap): Snap = Snap(totalNs - o.totalNs, runs - o.runs, effective - o.effective,
      perRuleNs.map { case (r, ns) => r -> (ns - o.perRuleNs(r)) })
    def +(o: Snap): Snap = Snap(totalNs + o.totalNs, runs + o.runs, effective + o.effective,
      perRuleNs.map { case (r, ns) => r -> (ns + o.perRuleNs(r)) })
  }

  def snap(rules: Seq[String]): Snap = {
    val m = RuleExecutor.getCurrentMetrics()
    // dumpTimeSpent lines: <rule class> <effective ns> / <total ns> <effective runs> / <runs>
    val dump = RuleExecutor.dumpTimeSpent().split("\n")
    val per = rules.map { r =>
      val ns = dump.find(_.trim.split("\\s+").headOption.exists(_.endsWith(r)))
        .map(_.trim.split("\\s+")).filter(_.length >= 4).map(_(3).toLong).getOrElse(0L)
      r -> ns
    }.toMap
    Snap(m.time, m.numRuns, m.numEffectiveRuns, per)
  }
}

/** Spans recorded by the benchmark around its calls into each layer. */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 1L

  def record(parent: Long, op: Long, layer: String, name: String, s: Double, e: Double): Long = {
    val id = nextId; nextId += 1
    spans += Span(id, parent, op, layer, name, s, e)
    id
  }

  /** Times `body` as a root span (one with no operation). */
  def time[T](layer: String, name: String)(body: => T): T = {
    val s = Tracer.nowMs
    val r = body
    record(0, 0, layer, name, s, Tracer.nowMs)
    r
  }

  def write(path: String): Unit = {
    new File(path).getParentFile.mkdirs()
    val w = new PrintWriter(path)
    try spans.foreach { s =>
      w.println(f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}",""" +
        f""""name":"${s.name}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}""")
    } finally w.close()
  }
}

object Tracer {
  private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowMs: Double = (epochNs + System.nanoTime()) / 1e6

  /** Length of the union of intervals. */
  def coveredMs(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }
}
