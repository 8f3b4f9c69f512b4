package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact integer z-dot ranking over [[graft.operators.SimilarityInt.zCodes]]
  * frames — the brute-force baseline of the integer ANN family: the
  * same metric and the same neighbor_id tie-break as its rerank, so an
  * index that scores every true neighbor must reproduce it exactly. */
object ZDotBaseline {

  /** (query_id, neighbor_id, rank) for the top-k of every query. */
  def topK(queriesZ: DataFrame, z: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("dot").desc, col("neighbor_id").asc)
    queriesZ.select(col("vid").as("query_id"), col("z").as("qz"))
      .crossJoin(z.select(col("vid").as("neighbor_id"), col("z").as("cz")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("dot", expr(
        "aggregate(zip_with(qz, cz, (p, q) -> p * q), 0L, (x, y) -> x + y)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }

  /** A (query_id, neighbor_id, rank) frame as a set of triples. */
  def triples(df: DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
}
