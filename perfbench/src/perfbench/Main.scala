package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** One operation of a workload. `run` returns None when the result is
  * correct and Some(reason) when it is wrong; a throw counts as a failure.
  */
final case class Op(name: String, run: () => Option[String])

final case class Sample(op: String, cycle: Int, startMs: Double, endMs: Double, error: Option[String]) {
  def ms: Double = endMs - startMs
}

/** The samples of one measuring window. */
final case class Window(samples: IndexedSeq[Sample]) {
  /** Both windows' samples, the other's cycles numbered after this one's. */
  def ++(o: Window): Window = {
    val base = samples.map(_.cycle + 1).maxOption.getOrElse(0)
    Window(samples ++ o.samples.map(s => s.copy(cycle = s.cycle + base)))
  }
  /** One cycle's time from each operation's median latency: a cycle slowed
    * by a burst of host load, or still paying for JIT compilation, moves it
    * less than it moves the median cycle.
    */
  def suiteMs: Double = samples.groupBy(_.op).values.map(ss => Main.median(ss.map(_.ms))).sum
  def failed: Int = samples.count(_.error.isDefined)
}

/** A workload: inputs made from the seed, a cycle of operations in seeded
  * order, correctness checks inside each operation, and the layer metrics
  * only it can measure.
  */
trait Workload {
  /** Makes the inputs and expected results; repeated for the setup_s median. */
  def prepare(): Unit
  /** Unmeasured cycles before the window. Spark's driver code takes tens of
    * seconds of C2 compilation to reach steady speed; a window that starts
    * earlier sits on that slope, and where on it depends on the host's load.
    */
  def warmCycles: Int
  /** Fewest cycles the window runs, whatever `--seconds` says. */
  def minCycles: Int = 3
  def warmup(): Unit = (1 to warmCycles).foreach { c =>
    val t0 = System.nanoTime()
    cycle.foreach { op =>
      try op.run() catch { case e: Throwable => Main.log(s"warm-up ${op.name} threw: ${e.getMessage}") }
    }
    Main.log(f"warm-up cycle $c ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }
  def cycle: IndexedSeq[Op]
  /** Input sizes for the run context. */
  def context: Map[String, Any]
  /** Workload-specific end-user rates for the run context. */
  def rates(w: Window): Map[String, Any]
  /** Layer metrics of a traced window (names from [[Metrics.perLayer]]). */
  def layers(w: Window, col: SparkCollector, tr: Tracer): Map[String, Double]
}

/** Peak live heap: the largest heap use left after any garbage collection
  * while watching. Pool peaks before collection only show how far the
  * collector let the young generation grow, which is about the heap size.
  */
final class LiveHeapPeak extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  @volatile private var peak = 0L

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { peak = math.max(peak, used) }
    }

  def start(): Unit = { peak = 0; emitters.foreach(_.addNotificationListener(this, null, null)) }

  /** Stops watching after one more, full, collection, so a window in which
    * no collection ran still reports live heap rather than garbage.
    */
  def stopMb(): Double = {
    System.gc()
    emitters.foreach(_.removeNotificationListener(this))
    math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed) / 1048576.0
  }
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      tamper: String, fixture: String, expected: String, result: String, traceOut: String,
      recordExpected: Boolean)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv.getOrElse("tamper", "none"), kv("fixture"), kv("expected"),
      kv("result"), kv("trace-out"), argv.contains("--record-expected"))
  }

  /** Repetitions of each direct graft.core measurement; the median is reported. */
  final val CoreReps = 3
  /** Repetitions of a workload's input preparation; setup_s takes the median. */
  final val PrepareReps = 3

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) return 0.0
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** JIT compiler time so far, summed over compiler threads. */
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def classesLoaded: Long = ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount
  /** Collector time so far. */
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs whole cycles while another one is expected to end within
    * `seconds`, and at least `minCycles`, so a median never rests on one or
    * two cycles.
    */
  def measure(cycle: IndexedSeq[Op], seconds: Double, minCycles: Int): Window = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val out = IndexedSeq.newBuilder[Sample]
    var c = 0
    while (c < minCycles || System.nanoTime() + (System.nanoTime() - t0) / c <= deadline) {
      cycle.foreach { op =>
        val s = Tracer.nowMs
        val err = try op.run() catch {
          case e: Throwable => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        val e = Tracer.nowMs
        err.foreach(m => log(s"FAILED ${op.name}: ${m.take(300)}"))
        out += Sample(op.name, c, s, e, err)
      }
      c += 1
    }
    Window(out.result())
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val slots = sys.props("perfbench.slots").toInt
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      // Spark keeps the code it generates for 100 plans by default; a
      // gate_mix pass generates ~270 classes, so each pass evicted the last
      // one's and recompiled them all, keeping the JIT busy for the whole
      // window (~800 classes loaded in it; ~100 with this cache)
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftSparkExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val exit = try run(spark, a, sessionS) finally spark.stop()
    System.exit(exit)
  }

  private def workload(name: String, spark: SparkSession, a: Args): Workload = name match {
    case "probe_const" => new ProbeConst(spark, a.seed, a.tamper == "count")
    case "build_agg" => new BuildAgg(spark, a.seed, a.tamper == "blob")
    case "gate_mix" => new GateMix(spark, a.seed, a.fixture, a.expected, a.tamper == "throw")
  }

  /** The training run behind the class-data-sharing archive: every
    * workload's preparation and one cycle, so the archive holds the classes
    * any measured run loads. Results are not checked.
    */
  private def train(spark: SparkSession, a: Args): Unit =
    Seq("probe_const", "build_agg", "gate_mix").foreach { name =>
      val w = workload(name, spark, a.copy(tamper = "none"))
      w.prepare()
      w.cycle.foreach(op => try op.run() catch { case e: Throwable => log(s"training ${op.name} threw: $e") })
      log(s"trained on $name")
    }

  private def run(spark: SparkSession, a: Args, sessionS: Double): Int = {
    if (a.workload == "train") {
      train(spark, a)
      return 0
    }
    val w = workload(a.workload, spark, a)
    if (a.recordExpected) {
      w.asInstanceOf[GateMix].recordExpected()
      return 0
    }
    val prepS = (1 to PrepareReps).map(_ => timed(w.prepare())._2)
    val warmS = timed(w.warmup())._2
    val setupS = sessionS + median(prepS) + warmS
    log(f"setup: session $sessionS%.2f s, prepare ${prepS.map(s => f"$s%.2f").mkString("/")} s, " +
      f"warm-up $warmS%.2f s")
    val cycle = w.cycle
    val heap = new LiveHeapPeak
    // the window starts from the live set alone, not from whatever garbage
    // preparation and warm-up left in the old generation
    System.gc()
    val (jit0, gc0, cls0) = (jitMs, gcMs, classesLoaded)
    heap.start()
    var plain = measure(cycle, if (a.trace) a.seconds / 4.0 else a.seconds,
      if (a.trace) 2 else w.minCycles)
    val peakHeapMb = heap.stopMb()
    val (jitWindowMs, gcWindowMs, clsWindow) = (jitMs - jit0, gcMs - gc0, classesLoaded - cls0)
    plain.samples.groupBy(_.cycle).toSeq.sortBy(_._1).foreach { case (c, ss) =>
      log(f"cycle $c ${ss.map(_.ms).sum}%.0f ms: " + ss.map(s => f"${s.op}=${s.ms}%.0f").mkString(" "))
    }

    var windows = Seq(plain)
    val metrics: Seq[(String, Double)] = if (!a.trace) {
      val lat = plain.samples.map(_.ms)
      Seq("setup_s" -> setupS, "suite_s" -> plain.suiteMs / 1e3,
        "query_ms_p50" -> quantile(lat, 0.5), "query_ms_p90" -> quantile(lat, 0.9))
    } else {
      // quarters run untraced, traced, traced, untraced, so the JIT warming
      // up over the run does not show as tracing overhead
      val col = new SparkCollector(spark)
      val tr = new Tracer
      var traced = Window(IndexedSeq.empty)
      var rules = RuleMeter.Snap(0, 0, 0, Metrics.tracedRules.map(_ -> 0L).toMap)
      var planMs = 0.0
      (1 to 3).foreach { q =>
        if (q == 3) plain ++= measure(cycle, a.seconds / 4.0, 2)
        else {
          col.attach()
          val (r0, p0) = (RuleMeter.snap(Metrics.tracedRules), col.planMs)
          traced ++= measure(cycle, a.seconds / 4.0, 2)
          col.drain()
          rules += RuleMeter.snap(Metrics.tracedRules) - r0
          planMs += col.planMs - p0
          col.detach()
        }
      }
      windows = Seq(plain, traced)
      val generic = Metrics.sparkLayers(traced, col, tr, rules, planMs)
      col.attach()
      val own = w.layers(traced, col, tr)
      col.detach()
      tr.write(a.traceOut)
      val (plainSuite, tracedSuite) = (plain.suiteMs, traced.suiteMs)
      val coreMs = tr.spans.filter(_.layer == "core").map(_.ms).sum
      log(s"trace: ${tr.spans.size} spans written to ${a.traceOut}")
      val all = generic ++ own ++ Map(
        "self_ms.core" -> coreMs,
        "trace.overhead_pct" -> 100.0 * (tracedSuite - plainSuite) / plainSuite)
      Metrics.perLayer.map { case (n, _) => n -> all.getOrElse(n, 0.0) }
    }

    val attempted = windows.map(_.samples.size).sum
    val failed = windows.map(_.failed).sum
    val units = (Metrics.endToEnd ++ Metrics.perLayer).toMap
    val ctx = w.context ++ w.rates(plain) ++ Map(
      "workload" -> a.workload, "trace" -> a.trace, "seconds" -> a.seconds,
      "task_slots" -> spark.sparkContext.defaultParallelism,
      "peak_heap_mb" -> peakHeapMb,
      "jit_ms_in_window" -> jitWindowMs, "gc_ms_in_window" -> gcWindowMs,
      "classes_loaded_in_window" -> clsWindow,
      "ops_measured" -> plain.samples.size,
      "op_median_ms" -> plain.samples.groupBy(_.op).map { case (op, ss) => op -> median(ss.map(_.ms)) },
      "op_ms" -> plain.samples.groupBy(_.op).map { case (op, ss) => op -> ss.sortBy(_.cycle).map(_.ms) }, "cycles_measured" -> plain.samples.map(_.cycle).distinct.size,
      "p90_samples_beyond" -> plain.samples.size / 10,
      "error_rate" -> failed.toDouble / attempted, "tamper" -> a.tamper)
    val json = "{" + Seq(
      s""""correct": ${failed == 0}""", s""""attempted": $attempted""", s""""failed": $failed""",
      """"metrics": {""" + metrics.map { case (n, v) =>
        s""""$n": {"value": ${Json.num(v)}, "unit": "${units(n)}"}""" }.mkString(", ") + "}",
      s""""context": ${Json.obj(ctx)}""").mkString(", ") + "}"
    Files.write(Paths.get(a.result), json.getBytes("UTF-8"))
    log(s"${a.workload}: $attempted ops, $failed failed")
    0
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def value(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ", ", "]")
    case other => other.toString
  }

  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": ${value(v)}""" }.mkString("{", ", ", "}")
}
