package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Price-change history — W3/W4 + U2 (reference
  * `3-basedata_df_final_query.sql:44-72`): for a month window, emit one row
  * per (entity, distinct price) — the latest record at that price within the
  * month — plus the entity's last record before the month ("previous
  * price"), labelled so consumers can reconstruct the change log.
  *
  * One pass over the input: both picks are `row_number` windows over the
  * same key family — W3 partitioned by (keys, price, in-month flag), W4 by
  * (keys, in-month flag) — and a filter keeps each window's top row on its
  * own side of the month start. That filter is the reference's U2 union,
  * without reading the input twice. Data hash-partitioned on any subset of
  * the keys satisfies both windows, so the operator adds no exchange of its
  * own.
  * The price column is parameterised exactly like the reference
  * (`script/helper.py:192-201` picks buy vs rent amount per distribution).
  */
object PriceChange {

  /** @param keys       the entity key (several columns for a composite key).
    * @param monthStart inclusive; @param monthEnd exclusive.
    * @param tiebreak   unique descending tiebreaker for deterministic picks.
    */
  def history(
      df: DataFrame,
      keys: Seq[Column],
      price: Column,
      ts: Column,
      tiebreak: Seq[Column],
      monthStart: String,
      monthEnd: String): DataFrame = {
    val inMonth = col("__in_month")
    val order = ts.desc +: tiebreak
    // rows before the month or inside it; the flag then tells the two apart
    df.filter(ts < lit(monthStart) || (ts >= lit(monthStart) && ts < lit(monthEnd)))
      .withColumn("__in_month", ts >= lit(monthStart))
      // W3: latest record per (key, distinct price) inside the month
      .withColumn("__rn_cur", row_number().over(
        Window.partitionBy(keys :+ price :+ inMonth: _*).orderBy(order: _*)))
      // W4: single last record before the month start
      .withColumn("__rn_prev", row_number().over(
        Window.partitionBy(keys :+ inMonth: _*).orderBy(order: _*)))
      .filter(when(inMonth, col("__rn_cur")).otherwise(col("__rn_prev")) === 1)
      .withColumn("price_src", when(inMonth, lit("current")).otherwise(lit("previous")))
      .drop("__in_month", "__rn_cur", "__rn_prev")
  }
}
