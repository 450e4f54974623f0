package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

/** One driver-contract gate: its name, the DuckDB SQL that replays its
  * answer over the same fixture, and the Spark side. [[SparkEntry]]
  * registers the fixture's views for `dir` before every `run`, so a gate
  * body reads the fixture's tables by name.
  */
final case class Gate(name: String, oracleSql: String)(
    val run: (SparkSession, String) => DataFrame)

object Gate {

  /** A gate whose Spark and DuckDB sides run the same SQL text. */
  def sameSql(name: String, sql: String): Gate = Gate(name, sql)((s, _) => s.sql(sql))

  /** Materialize a SMALL gate result (aggregates / limits — config-bounded
    * row counts) as a local-relation frame so the gate's staging temp dirs
    * can be deleted BEFORE it returns. A lazily returned plan pins its
    * staged files: every run of a staging gate then leaks a full table
    * copy (11 GB per q_skipping_index run at sf100cd — a double-pass probe
    * filled the disk, r14). The collect is bounded by the gate's own
    * output contract (1-row checksums, per-group rollups, top-k).
    */
  private[gates] def localResult(s: SparkSession, df: DataFrame): DataFrame = {
    val rows = df.collect()
    s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** The `embeddings` fixture as `(vec_id, vec ARRAY<DOUBLE>)`: the corpus
    * every vector gate reads.
    */
  private[gates] def vectors(s: SparkSession): DataFrame =
    s.table("embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))

  /** The vector gates' query side: the [[vectors]] rows with `vec_id < n`
    * as `(qid, qvec)`.
    */
  private[gates] def vectorQueries(vecs: DataFrame, n: Int = 10): DataFrame =
    vecs.where(col("vec_id") < n).select(col("vec_id").as("qid"), col("vec").as("qvec"))

  private[gates] def deleteDirs(dirs: String*): Unit =
    dirs.foreach(d => streaming.FileStreams.deleteTree(java.nio.file.Paths.get(d)))
}
