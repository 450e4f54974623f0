package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Telemetry

/** Token → posting-list index over a text corpus: build once, persist as
  * parquet, answer multi-term membership queries by reading ONLY the query
  * terms' postings (parquet predicate pushdown on the token column).
  *
  * Layout: `(token STRING, df BIGINT, postings ARRAY<BIGINT>)`, postings
  * sorted ascending. Searching never scans the corpus — an AND/OR of k
  * terms reads k rows.
  *
  * Scale shape: the build is ONE token-keyed aggregate (map-side partial
  * `collect_set`); hyper-frequent tokens produce corpus-sized posting
  * rows — the classic stopword skew — so `maxDf` drops tokens above a
  * document-frequency cap (they carry no selectivity; each capped build
  * records its drop count and max df as a `graft_inverted_index_<n>`
  * [[Telemetry.Run]]). Search
  * explodes only the matched posting rows and groups on doc_id —
  * co-partitioned, bounded by the query terms' total df.
  */
object InvertedIndex {

  /** Build the index frame. Tokens are lowercased whitespace tokens;
    * `maxDf` (0 = uncapped) drops tokens whose document frequency exceeds
    * the cap. Each (token, doc) pair posts once regardless of tf.
    */
  def build(docs: DataFrame, textCol: String, idCol: String,
      maxDf: Long = 0L): DataFrame = {
    val idx = docs
      .select(col(idCol).cast("long").as("doc_id"),
        explode(array_distinct(
          filter(split(lower(col(textCol)), "\\s+"), t => t =!= lit("")))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).cast("long").as("df"),
        sort_array(collect_set(col("doc_id"))).as("postings"))
    if (maxDf <= 0L) idx
    else {
      val run = Telemetry.start(docs.sparkSession, "graft_inverted_index")
      idx.where(Telemetry.record(run, col("df"), maxDf))
        .where(col("df") <= maxDf)
    }
  }

  /** Persist sorted by token so reads cluster and row-group stats make the
    * token pushdown selective.
    */
  def save(index: DataFrame, path: String): Unit =
    index.orderBy("token").write.mode("overwrite").parquet(path)

  def load(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Documents containing ALL (`requireAll = true`) or ANY of `terms`.
    * Returns (doc_id) — the `WHERE text ~ all these words` pre-filter that
    * avoids scanning the corpus. The token IN-filter reaches the parquet
    * scan; only matched posting rows are exploded.
    */
  def search(index: DataFrame, terms: Seq[String],
      requireAll: Boolean = true): DataFrame = {
    require(terms.nonEmpty, "search needs at least one term")
    val distinctTerms = terms.map(_.toLowerCase).distinct
    val hits = index
      .where(col("token").isin(distinctTerms: _*))
      .select(explode(col("postings")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).cast("long").as("__nterms"))
    (if (requireAll) hits.where(col("__nterms") === distinctTerms.size.toLong)
     else hits)
      .select(col("doc_id"))
  }
}
