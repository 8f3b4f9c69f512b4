package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.TextQueries

/** Runs registry queries the way the benchmark times them, and the
  * per-layer readings of those runs. */
object Registry {

  /** Execute `df` in full through Spark's `noop` sink (every column of
    * every row is produced; `count()` would let the optimizer prune
    * unused projections). The row count and an order-insensitive hash
    * of the rows ride the same execution as observed metrics; doubles
    * are rounded to 6 places so summation order cannot flip the hash.
    * Returns "rows:hash". */
  def runQuery(df: DataFrame): String = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n"),
        sum(xxhash64(df.schema.fields.map(f => canonical(col(s"`${f.name}`"), f.dataType)).toIndexedSeq: _*)
          .cast(DecimalType(38, 0))).as("h"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    s"${m("n")}:${m("h")}"
  }

  private def canonical(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 6))
    case _: MapType => to_json(c)
    case _ => c
  }

  /** `q<id>.ms` per query, their sum over the queries of
    * `ops.TextQueries` (the inventory the timed queries come from), and
    * the memo hits of the pass. */
  def layerMetrics(perQuery: Map[String, Double], memoHits: Double): Map[String, Double] =
    perQuery.map { case (q, s) => s"${q.takeWhile(_ != '_')}.ms" -> s * 1e3 } ++ Map(
      "ops.TextQueries_s" -> perQuery.filter(q => TextQueries.defs.contains(q._1)).values.sum,
      "memo.hits" -> memoHits)
}
