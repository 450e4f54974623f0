package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for training-data pipelines: group documents into
  * fixed token-budget blocks ("sequences") so a trainer can fill its
  * context window without truncation waste.
  *
  * The assignment is CONTIGUOUS BLOCK packing: within each stratum the
  * documents are laid out in deterministic content-hash order, and a
  * document joins the block that its first token lands in
  * (`seq = floor(exclusive_cumsum(tokens) / budget)`). Properties:
  *
  *  - documents are never split;
  *  - every block except the stratum's last holds >= `budget` tokens
  *    minus the tokens of the one document that straddles its boundary
  *    (equivalently: overflow per block < the longest document, and there
  *    is no underfill beyond that single straddler);
  *  - the layout is a pure function of the data — content-hash ordering
  *    makes reruns, backfills, and cross-engine replays (one window
  *    cumsum, replayable in any SQL engine) agree block-for-block,
  *    unlike RNG- or partition-order-driven packers.
  *
  * This is the scalable form of "greedy first-fit" packing: true
  * first-fit is a sequential recurrence (each verdict depends on the
  * running remainder), which cannot be expressed as a window function and
  * would serialize the whole corpus through one task. Contiguous blocks
  * trade a bounded per-block overflow for a fully parallel one-window
  * plan.
  *
  * Scale shape: one shuffle (the window partition on the stratum), then a
  * per-partition sort + running sum. Strata are the unit of parallelism —
  * pack by source/shard, not over one global stratum, at 100 TB.
  */
object Packing {

  /** Assign each row a `seqCol` block id within its stratum under a
    * token `budget`. `tokens` is any integral-valued Column (e.g.
    * `expr("token_count(text)")` or a pre-materialized length column);
    * `uniqueCol` breaks ties between identical-content rows so the order
    * (and thus the packing) never depends on partition layout.
    *
    * Documents longer than `budget` get a block of their own (plus the
    * straddle overflow of the predecessor block, as for any document).
    * Also emits `seq_pos` (the row's token offset inside its block) —
    * the trainer-side concatenation offset.
    */
  def packSequences(df: DataFrame, strataCol: String, tokens: Column,
      keyCol: String, uniqueCol: String, budget: Long,
      seqCol: String = "seq_id"): DataFrame = {
    require(budget >= 1, "budget must be >= 1")
    val reserved = Seq("__tok", "__cum")
    val clash = reserved.filter(df.columns.contains)
    require(clash.isEmpty,
      s"packSequences uses helper columns ${clash.mkString(", ")} which already exist in the input")
    val w = Window.partitionBy(col(strataCol))
      .orderBy(md5(col(keyCol).cast("string")), col(uniqueCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__tok", tokens.cast("long"))
      .withColumn("__cum", sum(col("__tok")).over(w) - col("__tok"))
      // `div`, not `/`: Column./ on longs is DOUBLE division, whose floor
      // can misround once the cumsum nears 2^52 / budget — integer
      // division is exact at any scale
      .withColumn(seqCol, expr(s"__cum div ${budget}L"))
      .withColumn("seq_pos", col("__cum") - col(seqCol) * lit(budget))
      .drop("__tok", "__cum")
  }
}
