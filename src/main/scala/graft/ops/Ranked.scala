package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bounded global rank — the scale-safe authoring of the reference's
  * `RANK() OVER (ORDER BY count(*) DESC)` + `LIMIT k`
  * (`taxi_trips_etl.py:166-176`): deterministic top-k via
  * `orderBy.limit(k)` (plans as TakeOrderedAndProject — per-partition
  * heap top-k, no global sort), then RANK over the ≤k surviving rows
  * (a single-partition window over ≤k rows is free; over unbounded data
  * it would be the scale-killer, SURVEY §7.4). RANK is prefix-determined,
  * so ranking the deterministic top-k equals the global rank restricted
  * to those rows. Shared by CoreQueries and TaxiOps' two rollups. */
object Ranked {
  def topK(df: DataFrame, cnt: String, k: Int,
           tieBreak: Seq[String]): DataFrame =
    df.orderBy(col(cnt).desc +: tieBreak.map(col): _*).limit(k)
      .withColumn("popularity", rank().over(Window.orderBy(col(cnt).desc)))
}
