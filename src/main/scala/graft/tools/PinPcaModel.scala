package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Pca

/** Regenerates [[graft.operators.PcaPinnedModels]]: prints the
  * exactReplay-fitted PCA model (sf0.01 embeddings, k=4) as the literals
  * pinned there and in the `q_pca_project` oracle. The fit is a
  * deterministic pure function of the data — e6-integer Gram (order- and
  * partitioning-independent) + driver-side Jacobi — so the pinned model is
  * reproducible bit-for-bit by re-running this tool; the oracle then
  * replays the per-row projection matmul LIVE against the parquet data.
  *
  * Usage: runMain graft.tools.PinPcaModel [sfDir]
  */
object PinPcaModel {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-pin-pca")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
    val model = Pca.fit(emb, "vec", k = 4, exactReplay = true)
    // %.17E literals: E-notation forces DuckDB's DOUBLE parser (plain
    // decimal literals go through DECIMAL and lose the last bit at 17
    // significant digits) and 17 fractional digits round-trips any double
    def lit(xs: Array[Double]): String =
      xs.map(x => "%.17E".format(x)).mkString("[", ", ", "]")
    println("-- mean --")
    println(lit(model.mean))
    println("-- components --")
    model.components.zipWithIndex.foreach { case (w, c) =>
      println(s"($c, ${lit(w)}),")
    }
    println("-- eigenvalues --")
    println(model.eigenvalues.mkString(", "))
    graft.LocalSpark.stop(spark)
  }
}
