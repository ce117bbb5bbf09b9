package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Join shapes J2–J8 (SURVEY §2.3).
  *
  * These are thin, intention-revealing wrappers over the DataFrame API:
  * the value is in the scale-conscious defaults (broadcast for lookups,
  * coalesce-on-null for counter joins) and in documenting the reference
  * semantics they preserve, not in hiding Spark.
  */
object Joins {

  /** J2: left equi-join enrichment (1:1 text join,
    * `1-basedata_first_query.sql:21-35`). Shuffles both sides on the key;
    * at 100 TB prefer bucketing both tables on the key to make this
    * shuffle-free.
    */
  def leftEnrich(left: DataFrame, right: DataFrame, key: Seq[String]): DataFrame =
    left.join(right, key, "left")

  /** J3: activity filter kept as a plain INNER join — NOT a semi-join —
    * because the reference's id list can carry duplicates and the inner join
    * deliberately amplifies (`2-basedata_df_query.sql:9-15`, SURVEY §7
    * hard-point 3). Where dedup semantics are wanted, a `left_semi` join
    * never amplifies.
    */
  def innerActivityFilter(left: DataFrame, ids: DataFrame, usingColumns: Seq[String]): DataFrame =
    left.join(ids, usingColumns, "inner")

  /** J4/J5: left join to a pre-aggregated counter table, null → 0 on the
    * counter columns (`COALESCE(cnt,0)`, `2-basedata_df_query.sql:50-63`).
    * Aggregate-before-join keeps the shuffled payload to one row per key —
    * never join raw event rows then aggregate.
    */
  def leftCounterJoin(
      left: DataFrame,
      counters: DataFrame,
      key: Seq[String],
      counterCols: Seq[String]): DataFrame = {
    val joined = left.join(counters, key, "left")
    counterCols.foldLeft(joined)((df, c) => df.withColumn(c, coalesce(col(c), lit(0))))
  }

  /** J6: "newer version exists" detection via left join + null-safe-failing
    * comparison (`3-basedata_df_final_query.sql:21-29`): rows without a
    * strictly newer counterpart drop out because `max < null` is not true.
    */
  def newerExists(
      filteredMax: DataFrame,
      allMax: DataFrame,
      key: Seq[String],
      filteredCol: String,
      allCol: String): DataFrame =
    filteredMax.join(allMax, key, "left")
      .where(col(filteredCol) < col(allCol))

  /** J8: broadcast lookup join on a derived prefix key
    * (`script/main.py:128-154`): probe side computes `substring(geoCol,1,n)`,
    * build side is a small dim whose key is an int — the string-vs-int
    * comparison relies on implicit casting, preserved here verbatim.
    * `broadcast()` keeps this a map-side hash join: zero shuffle of the big
    * probe side, which is the only viable plan at 100 TB.
    */
  def broadcastPrefixJoin(
      probe: DataFrame,
      lookup: DataFrame,
      probeCol: Column,
      prefixLen: Int,
      lookupKey: String): DataFrame =
    probe.join(
      broadcast(lookup),
      substring(probeCol, 1, prefixLen) === lookup(lookupKey),
      "left")
      .drop(lookupKey)
}
