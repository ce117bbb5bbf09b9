package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join — J1/W1 (reference `0-merge_delete_query.sql:24-40`): for each
  * left row, attach the single most recent right row with
  * `right.ts <= left.ts` on equal keys.
  *
  * Plan shape: NOT the textbook range-join + row_number dedup — that
  * materializes |left| × (versions-per-key) intermediate rows, which
  * detonates on hot keys (a CDC stream with 1000 versions per entity pays a
  * 1000× blowup before the dedup window throws it away). Instead both
  * sides union into one stream per key, sorted by (ts, side, tiebreak), and
  * a running `last(payload, ignoreNulls)` window carries the latest right
  * payload forward into each left row: one shuffle + one sort per key,
  * ZERO intermediate blowup, O(n log n) regardless of version depth.
  *
  * Requirements: non-key column names must be disjoint between the sides
  * (same condition a plain join needs for unambiguous output).
  *
  * The CDC repair ([[AsOfJoin.resurrectDeletes]]) is the same carry with
  * both sides already in one stream: tombstones and versions are rows of
  * one table, so it is a single window over that table.
  */
object AsOfJoin {

  /** Generic as-of: attach each left row's latest right match; left rows
    * with no earlier right row are dropped (inner semantics).
    *
    * @param keys     (leftKey, rightKey) column-name pairs
    * @param leftTs   left event-time column name
    * @param rightTs  right event-time column name (kept in the output)
    * @param tiebreak right column names breaking rightTs ties — HIGHEST
    *                 value wins, applied in order
    */
  def asOf(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[(String, String)],
      leftTs: String,
      rightTs: String,
      tiebreak: Seq[String]): DataFrame = {
    val (m, payloadCols) = carryLatest(left, right, keys, leftTs, rightTs,
      tiebreak)
    m.filter(col("__m").isNotNull)
      .select(left.columns.toSeq.map(col) ++
        payloadCols.map(c => col(s"__m.$c")): _*)
  }

  /** As-of join with a staleness bound — pandas `merge_asof(tolerance=…)`
    * semantics: the latest earlier right match counts ONLY if it is within
    * `toleranceUs` of the left row's time; otherwise the left row keeps
    * NULL payload (left-outer — staleness is data, not a drop). Emits
    * every left row plus the right payload and `lag_us` (left − right
    * event time, NULL when no fresh match) — the attribution-window /
    * sensor-freshness join.
    *
    * Same carried-window plan as [[asOf]] (one shuffle + one sort per key,
    * zero range-join blowup); the tolerance is a post-window predicate on
    * the carried match's own timestamp, so hot keys with deep histories
    * cost exactly what [[asOf]] costs.
    */
  def asOfTolerance(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[(String, String)],
      leftTs: String,
      rightTs: String,
      tiebreak: Seq[String],
      toleranceUs: Long): DataFrame = {
    require(toleranceUs >= 0, s"toleranceUs must be >= 0, got $toleranceUs")
    val (m, payloadCols) = carryLatest(left, right, keys, leftTs, rightTs,
      tiebreak)
    val lag = unix_micros(col(leftTs)) - unix_micros(col(s"__m.$rightTs"))
    m.withColumn("__lag", lag)
      .withColumn("__fresh", col("__m").isNotNull &&
        col("__lag") <= lit(toleranceUs))
      .select(left.columns.toSeq.map(col) ++
        payloadCols.map(c => when(col("__fresh"), col(s"__m.$c")).as(c)) :+
        when(col("__fresh"), col("__lag")).as("lag_us"): _*)
  }

  /** Shared carrier: union both sides per key, sort by (ts, side,
    * tiebreak), run the forward-fill window, and return the LEFT rows with
    * the latest right payload in `__m` (NULL when none) plus the payload
    * column names.
    */
  private def carryLatest(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[(String, String)],
      leftTs: String,
      rightTs: String,
      tiebreak: Seq[String]): (DataFrame, Seq[String]) = {
    val keyNames = keys.map(_._1)
    val rKeyed = keys.foldLeft(right) { case (df, (l, r)) =>
      if (l == r) df else df.withColumnRenamed(r, l)
    }
    val payloadCols = rKeyed.columns.filterNot(keyNames.contains).toSeq

    val rTagged = rKeyed.select(
      keyNames.map(col) ++ Seq(
        col(rightTs).as("__ts"),
        lit(0).as("__side"),
        struct(payloadCols.map(col): _*).as("__match")) ++
        tiebreak.map(c => col(c).as(s"__tb_$c")): _*)
    val lTagged = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__side", lit(1))

    // right rows sort before the left row they may serve at equal ts
    // (right.ts <= left.ts is inclusive); among rights, later tiebreak wins.
    val order = col("__ts").asc +: col("__side").asc +:
      tiebreak.map(c => col(s"__tb_$c").asc)
    val w = Window.partitionBy(keyNames.map(col): _*)
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val carried = rTagged.unionByName(lTagged, allowMissingColumns = true)
      .withColumn("__m", last(col("__match"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    (carried, payloadCols)
  }

  /** CDC delete-resurrection (reference `0-merge_delete_query.sql`, whole
    * file): tombstones carry no payload; resurrect each Delete by attaching
    * the payload of the most recent earlier non-deleted version of the same
    * entity, and keep every non-deleted record as it is.
    *
    * Output columns: entityKey, opCol, tsCol, payloadCols — tombstone rows
    * keep their own key/op/ts and borrow payload; non-deleted rows pass
    * through unchanged (reference `0-merge_delete_query.sql:50-58` UNION ALL).
    * Rows with a null `opCol` are neither and drop. A tombstone with no
    * earlier version drops (the reference's inner join).
    *
    * One window pass: each entity's rows sort by (ts, is-delete, tiebreak),
    * so at equal ts versions come before tombstones (the reference's
    * inclusive `v.ts <= d.ts`) and the highest tiebreak is the last version.
    * A running `last(payload, ignoreNulls)` over the versions carries the
    * latest one into each tombstone. One shuffle and one sort per key, no
    * intermediate blowup, and the output stays hash-partitioned on
    * `entityKey` for whatever groups by it next.
    *
    * Duplicate-tombstone tie rule (pinned to the reference): the reference
    * ranks the deletes×versions join `PARTITION BY (key, changeDate)`
    * (`0-merge_delete_query.sql:27-41`), so several tombstones sharing
    * (key, ts) produce ONE resurrected row, not one each. They sort next to
    * each other, so every one but the first drops (`lag`).
    *
    * @param tiebreakCol version-side column breaking ts ties (highest wins)
    */
  def resurrectDeletes(
      df: DataFrame,
      entityKey: String,
      opCol: String,
      tsCol: String,
      deleteValue: String,
      payloadCols: Seq[String],
      tiebreakCol: String): DataFrame = {
    val isDelete = col(opCol) === deleteValue
    val byKey = Window.partitionBy(entityKey)
      .orderBy(col(tsCol), isDelete, col(tiebreakCol))
    val latest = last(when(!isDelete, struct(payloadCols.map(col): _*)),
      ignoreNulls = true)
      .over(byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val repeatsTombstone = lag(isDelete, 1, false).over(byKey) &&
      (lag(col(tsCol), 1).over(byKey) <=> col(tsCol))
    df.filter(col(opCol).isNotNull)
      .select(col("*"), latest.as("__m"), repeatsTombstone.as("__dup"))
      .filter(!isDelete || (col("__m").isNotNull && !col("__dup")))
      .select(Seq(col(entityKey), col(opCol), col(tsCol)) ++ payloadCols.map(c =>
        when(isDelete, col(s"__m.$c")).otherwise(col(c)).as(c)): _*)
  }

  /** NEAREST-event join (pandas `merge_asof(direction='nearest')`
    * semantics, keyless): for each left row, the single right row with
    * the smallest |time delta| within ± `toleranceUs`, ties broken on
    * the right id. Unlike [[asOf]] the match can be on either side of
    * the left timestamp, so the running-window trick doesn't apply;
    * instead candidates come from [[ScaleJoins.rangeJoinBinned]] (left
    * rows become ±tolerance intervals, right rows are the points — one
    * equi shuffle on the bin id, never a nested loop) and a per-left-row
    * window picks the minimum. The window partition is bounded by the
    * candidate count per left row (≤ right-rows within tolerance).
    *
    * Timestamps are int64 in one unit (µs in j10). Left rows with no
    * right row within tolerance drop (inner semantics — the oracle
    * contract).
    *
    * @return (leftId, rightId, delta) — delta = rightTs − leftTs, signed.
    */
  def nearestWithin(left: DataFrame, leftId: Column, leftTs: Column,
                    right: DataFrame, rightId: Column, rightTs: Column,
                    toleranceUs: Long): DataFrame = {
    require(toleranceUs >= 0, "tolerance must be >= 0")
    val lIdName = left.select(leftId).columns.head
    val rIdName = right.select(rightId).columns.head
    val iv = left.select(leftId, leftTs.cast("long").as("__t"))
      .withColumn("__lo", col("__t") - toleranceUs)
      .withColumn("__hi", col("__t") + toleranceUs + 1) // inclusive both ends
    val pts = right.select(rightId, rightTs.cast("long").as("__p"))
    val w = Window.partitionBy(lIdName)
      .orderBy(abs(col("__p") - col("__t")), col(rIdName))
    ScaleJoins.rangeJoinBinned(pts, col("__p"), iv, col("__lo"), col("__hi"),
        binWidth = 2 * toleranceUs + 1)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(lIdName), col(rIdName),
        (col("__p") - col("__t")).as("delta"))
  }
}
