package graft.operators

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.udf

/** Task-side max accumulator (Spark ships only sum/collect built-ins).
  * `add` is idempotent for repeated observations of the same value, so the
  * merged max is exact even under task retry.
  */
final class MaxLongAccumulator extends org.apache.spark.util.AccumulatorV2[Long, Long] {
  private var _max = 0L
  override def isZero: Boolean = _max == 0L
  override def copy(): MaxLongAccumulator = {
    val a = new MaxLongAccumulator; a._max = _max; a
  }
  override def reset(): Unit = _max = 0L
  override def add(v: Long): Unit = if (v > _max) _max = v
  override def merge(other: org.apache.spark.util.AccumulatorV2[Long, Long]): Unit =
    _max = math.max(_max, other.value)
  override def value: Long = _max
}

/** Task-side min accumulator, the dual of [[MaxLongAccumulator]]; zero
  * state is Long.MaxValue. `add` is idempotent under task retry.
  */
final class MinLongAccumulator extends org.apache.spark.util.AccumulatorV2[Long, Long] {
  private var _min = Long.MaxValue
  override def isZero: Boolean = _min == Long.MaxValue
  override def copy(): MinLongAccumulator = {
    val a = new MinLongAccumulator; a._min = _min; a
  }
  override def reset(): Unit = _min = Long.MaxValue
  override def add(v: Long): Unit = if (v < _min) _min = v
  override def merge(other: org.apache.spark.util.AccumulatorV2[Long, Long]): Unit =
    _min = math.min(_min, other.value)
  override def value: Long = _min
}

/** Run telemetry for graft's approximate operators: the one mechanism
  * through which a fail-soft cap reports what it dropped and a
  * budgeted search reports whether its budget ran out.
  *
  * Each operator call starts a [[Telemetry.Run]] and filters the stream it
  * caps through [[Telemetry.record]]; a cap decided on the driver
  * (SemDeDup's ≤ k cluster sizes) adds to the run directly. The values
  * live in registered accumulators, so they survive AQE re-planning.
  * `Dataset.observe` does not: when a cap drops every group, AQE folds
  * the branch into an empty relation and the `CollectMetrics` node under
  * it never reports, so the number is lost exactly when it matters.
  *
  * Operator prefixes: `graft_lsh_buckets` (MinHash/SimHash LSH band
  * buckets), `graft_jaccard_shingles` (exact Jaccard shingle doc
  * frequency), `graft_ewma_keys` (EWMA key history), `graft_semdedup_clusters`
  * (SemDeDup cluster size), `graft_inverted_index` (token doc frequency),
  * `graft_hamming_candidates` and `graft_hamming_kept` (Hamming top-k).
  */
object Telemetry {

  /** One operator run, named `<operator>_<n>`. `max` and `min` are the
    * extremes of the recorded values and exact under task retry. `dropped`
    * counts recorded values above the run's cap, which a fail-soft cap
    * removed; it can over-count under retry or when a plan evaluates the
    * recorded stream more than once (a self-join over it), so it is
    * telemetry, never part of a result. Values are final once an action
    * over the operator's output has run.
    */
  final class Run private[Telemetry] (val name: String) extends Serializable {
    val max = new MaxLongAccumulator
    val min = new MinLongAccumulator
    val dropped = new org.apache.spark.util.LongAccumulator
  }

  private val nextId = new java.util.concurrent.atomic.AtomicLong()
  private val registry = new java.util.concurrent.ConcurrentLinkedDeque[Run]()
  private val RegistryCap = 256

  /** Registers a new run's accumulators and appends it to the bounded
    * registry; the oldest run falls out past [[RegistryCap]].
    */
  def start(spark: SparkSession, operator: String): Run = {
    val run = new Run(s"${operator}_${nextId.incrementAndGet()}")
    val sc = spark.sparkContext
    sc.register(run.max, s"${run.name}_max")
    sc.register(run.min, s"${run.name}_min")
    sc.register(run.dropped, s"${run.name}_dropped")
    registry.addLast(run)
    while (registry.size > RegistryCap) registry.pollFirst()
    run
  }

  /** Recent runs whose name starts with `prefix`, newest last. */
  def runs(prefix: String): Seq[Run] = {
    val b = Seq.newBuilder[Run]
    registry.forEach(r => if (r.name.startsWith(prefix)) b += r)
    b.result()
  }

  /** Always-true filter condition that records `value` into `run.max`,
    * `low` into `run.min`, and counts a `value` above `cap` into
    * `run.dropped`. Nondeterministic, so Catalyst neither folds it away nor
    * moves it past the cap filter that follows it. Apply it to the
    * post-aggregate stream, one row per capped group.
    */
  def record(run: Run, value: Column, low: Column,
      cap: Long = Long.MaxValue): Column =
    udf { (v: Long, lo: Long) =>
      run.max.add(v)
      run.min.add(lo)
      if (v > cap) run.dropped.add(1L)
      true
    }.asNondeterministic()(value.cast("long"), low.cast("long"))

  /** [[record]] with one value feeding both `max` and `min`. */
  def record(run: Run, value: Column, cap: Long): Column =
    record(run, value, value, cap)
}
