package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, MapType}

/** Output checks and plan inspection, from outside the engine. */
object Digest extends AdaptiveSparkPlanHelper {

  private def canon(c: Column, t: DataType): Column = t match {
    case _: MapType => array_sort(map_entries(c)) // hash cannot take maps
    case _ => c
  }

  /** Row count plus an order-independent content hash (the exact sum
    * of per-row xxhash64 values) in ONE aggregate over the frame, so
    * checking a result costs no extra pass and prunes no column.
    * Returns the aggregate frame too, for plan inspection after it ran. */
  def of(df: DataFrame, exclude: Set[String] = Set.empty)
      : (Map[String, Any], DataFrame) = {
    val fields = df.schema.fields.filterNot(f => exclude(f.name))
    val h =
      if (fields.isEmpty) lit(0L)
      else xxhash64(fields.toIndexedSeq.map(f =>
        canon(col(s"`${f.name}`"), f.dataType)): _*)
    val agg = df.select(h.as("__h"))
      .agg(count(lit(1)), sum(col("__h").cast(DecimalType(38, 0))))
    val r = agg.collect().head
    val hash = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    (Map("rows" -> r.getLong(0), "hash" -> hash,
      "columns" -> fields.map(f => s"${f.name}:${f.dataType.simpleString}").toSeq),
      agg)
  }

  /** Wall-clock columns: written by the pipeline at run time, so they
    * differ on every run and are left out of content hashes. */
  val wallClock: Set[String] =
    Set("silver_processed_at", "_processed_at", "_source_file")

  /** `ShuffleExchangeExec` nodes in the final adaptive plan of an
    * executed frame (query stages and subqueries included). */
  def exchanges(df: DataFrame): Int =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }.size
}
