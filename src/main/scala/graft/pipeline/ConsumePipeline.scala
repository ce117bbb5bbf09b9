package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.CacheScope
import graft.ops._

/** One pipeline iteration = the reference's (country × distribution) loop
  * row (`script/config.json:161-186`): a name plus an arbitrary row filter
  * (the reference's is `geoid LIKE prefix% AND distributionType = …`; the
  * synthetic analog partitions users by market segment).
  */
final case class IterationSpec(name: String, filter: Column)

object IterationSpec {
  /** Synthetic-table helper: iterate by customer market segment. */
  def bySegments(name: String, segments: Seq[String]): IterationSpec =
    IterationSpec(name, col("c_mktsegment").isin(segments: _*))
}

/** Pipeline parameters — the reference's runtime args (date windows) + loop
  * matrix (`script/main.py:196-247,305`).
  */
final case class ConsumeParams(
    activityFrom: String = "1996-01-01",
    activityTo: String = "1998-01-01",
    monthStart: String = "2024-01-15",
    monthEnd: String = "2024-02-01",
    iterations: Seq[IterationSpec] = Seq(
      IterationSpec.bySegments("it1", Seq("BUILDING", "AUTOMOBILE")),
      IterationSpec.bySegments("it2", Seq("MACHINERY", "HOUSEHOLD", "FURNITURE"))))

object ConsumeParams {
  /** Build the iteration matrix from a reference-shaped [[graft.io.JobConfig]]
    * — one iteration per `countryValues` row (`script/main.py:305`), with
    * the row→predicate mapping supplied by the caller (the reference's is
    * geo-prefix × distribution type on its own column names).
    */
  def fromConfig(cfg: graft.io.JobConfig,
                 rowFilter: graft.io.CountryRow => Column): ConsumeParams =
    ConsumeParams(iterations = cfg.countryValues.map { r =>
      IterationSpec(s"${r.countryName}_${r.distributionType}".toLowerCase,
        rowFilter(r))
    })
}

/** The reference's full 4-stage consume pipeline (SURVEY §3.3,
  * `script/main.py:250-416`), re-expressed over the synthetic tables:
  *
  *   - `events`  plays the CDC listings stream (`red_red_cleaned`;
  *     `event_type = 'error'` rows are the Delete tombstones),
  *   - `customer` plays the text-enrichment table (`red_red_text`),
  *   - `orders`   plays the activity table (`red_vd_cleaned`),
  *   - `events['signup']` plays the fraud-control stream (`red_ecd_raw`),
  *   - `events['click'/'view']` play the contact-request / visit counters,
  *   - `nation`   plays the broadcast geo lookup CSVs.
  *
  * Each stage is a thin composition of the §2 operators; the value of this
  * layer is the faithful *pipeline shape*: stage order, the per-iteration
  * actions over the accumulated rows of every iteration, and the
  * cache/unpersist lifecycle (`script/main.py:125,324,370`).
  *
  * Scale notes: every stage keys on `user_id` (the reference's
  * classifiedId), so Catalyst reuses one hash-partitioning across the
  * dedup window, the enrichment joins, and the aggregations; the only
  * broadcast is the small geo lookup. At 100 TB the CDC repair and day-dedup
  * dominate — both run over the repair window's one shuffle on the entity
  * key.
  */
object ConsumePipeline {

  /** Stage 0 (`0-merge_delete_query.sql`): CDC repair — resurrect Delete
    * tombstones with the payload of the latest earlier version.
    */
  def repairCdc(events: DataFrame): DataFrame =
    AsOfJoin.resurrectDeletes(events, entityKey = "user_id", opCol = "event_type",
      tsCol = "ts", deleteValue = "error",
      payloadCols = Seq("value", "props", "event_id"), tiebreakCol = "event_id")

  /** Stage 1 (`1-basedata_first_query.sql`): latest version per (entity,
    * day) + left-join enrichment (the reference's text join J2).
    */
  def baseFirst(repaired: DataFrame, customers: DataFrame): DataFrame = {
    val latest = Dedup.latestPerKeyAndDay(repaired, col("user_id"), col("ts"),
      Seq(col("event_id").desc, col("event_type").desc))
    Joins.leftEnrich(latest,
      customers.select(col("c_custkey").as("user_id"), col("c_name"), col("c_mktsegment")),
      Seq("user_id"))
  }

  /** The loop-invariant stage-2 side inputs — the activity id set and the
    * per-user event statistics depend only on the sources and the date
    * window, never on the iteration, so the orchestrators compute them ONCE
    * instead of re-aggregating the event stream per (country ×
    * distribution) iteration like the reference's per-loop SQL does
    * (`script/main.py:305-346`).
    *
    * The control argmax and both counter families (reference queries
    * 2-basedata_df_query.sql:17-45 — three separate scans + groupBys there)
    * fuse into ONE conditional aggregation: a single scan and a single
    * shuffle produce every per-user statistic, and stage 2 pays one left
    * join instead of three.
    */
  final case class SideInputs(active: DataFrame, userStats: DataFrame) {
    def cache(): SideInputs = { active.cache(); userStats.cache(); this }
  }

  object SideInputs {
    def apply(orders: DataFrame, events: DataFrame,
              activityFrom: String, activityTo: String): SideInputs = {
      val active = orders
        .filter(col("o_orderdate") >= lit(activityFrom) && col("o_orderdate") < lit(activityTo))
        .select(col("o_custkey").as("user_id")).distinct()
      val isSignup = col("event_type") === "signup"
      val isClick = col("event_type") === "click"
      val isView = col("event_type") === "view"
      val userStats = events.groupBy(col("user_id").as("stat_user_id"))
        .agg(
          // argmax(value by (ts, event_id)) over signup rows only — nulls
          // from other event types are ignored by max
          max(when(isSignup, struct(col("ts").as("o0"), col("event_id").as("o1"),
              col("value").as("v"))))
            .getField("v").as("last_signup_value"),
          sum(when(isClick, lit(1L))).as("n_clicks"),
          sum(when(isClick, coalesce(col("value"), lit(0.0)))).as("click_value"),
          sum(when(isView, lit(1L))).as("n_views"))
      SideInputs(active, userStats)
    }
  }

  /** The repaired stream hash-partitioned on `user_id`. [[frames]] does
    * not call it: [[repairCdc]]'s window already leaves that layout, which
    * satisfies stage 1's `(user_id, day)` window and every stage-3 window.
    * The benchmark's traced mode (`perfbench`) calls it.
    */
  def alignRepaired(repaired: DataFrame): DataFrame =
    repaired.repartition(col("user_id"))

  /** Stage 2 (`2-basedata_df_query.sql`): activity filter (J3, ids made
    * unique so the inner join is a pure filter) + one left join of the
    * fused per-user statistics (control argmax J4/A1, counters J5/A2/A3)
    * precomputed by [[SideInputs]].
    */
  def enrich(base: DataFrame, side: SideInputs): DataFrame = {
    val filtered = Joins.innerActivityFilter(base, side.active, Seq("user_id"))
    filtered
      .join(side.userStats, filtered("user_id") === side.userStats("stat_user_id"), "left")
      .drop("stat_user_id")
      .withColumn("n_clicks", coalesce(col("n_clicks"), lit(0L)))
      .withColumn("click_value", coalesce(col("click_value"), lit(0.0)))
      .withColumn("n_views", coalesce(col("n_views"), lit(0L)))
  }

  /** Stage 3 (`3-basedata_df_final_query.sql`): newer-version-exists
    * detection (J6) → invalid-id filter (J7) → price-change history for the
    * month window (W3/W4 + U2), all in one pass over `base`.
    *
    * `keys` is the entity: `user_id` for one iteration's frame, `(iteration,
    * user_id)` for the tagged frame of every iteration at once. J6's two
    * CTE groupBys and J7's anti join (`3-basedata_df_final_query.sql:1-42`)
    * become two `max` windows over the keys and a filter: a user whose
    * latest purchase is older than their latest event is dropped. Users
    * with no purchase have a null `f_max`, and `null < all_max` keeps them,
    * exactly like the missing left-join row did. Every window here is
    * partitioned by the keys (plus columns), so data hash-partitioned on
    * `user_id` needs no exchange.
    */
  def baseFinal(base: DataFrame, monthStart: String, monthEnd: String,
                keys: Seq[Column] = Seq(col("user_id"))): DataFrame = {
    val byKeys = Window.partitionBy(keys: _*)
    val valid = base
      .withColumn("__f_max", max(when(col("event_type") === "purchase", col("ts"))).over(byKeys))
      .withColumn("__all_max", max(col("ts")).over(byKeys))
      .filter(!coalesce(col("__f_max") < col("__all_max"), lit(false)))
      .drop("__f_max", "__all_max")
    PriceChange.history(valid, keys = keys, price = col("value"),
      ts = col("ts"), tiebreak = Seq(col("event_id").desc, col("event_type").desc),
      monthStart = monthStart, monthEnd = monthEnd)
  }

  /** `modify_data` (`script/main.py:157-193`): derived geo key + broadcast
    * lookup join (J8) + config-driven geo drop + partition column (P8).
    * `geoDrop` runs BETWEEN the join and the partition column, matching
    * the reference order (`script/main.py:186-190`) — so a reference
    * config listing partition-column names stays harmless.
    */
  def modify(df: DataFrame, nations: DataFrame,
             geoDrop: Seq[String] = Nil): DataFrame = {
    val withGeo = df.withColumn("geoid",
      concat(lpad((col("user_id") % 25).cast("string"), 2, "0"),
        lpad((col("user_id") % 100).cast("string"), 2, "0")))
    Joins.broadcastPrefixJoin(withGeo,
        nations.select(col("n_nationkey"), col("n_name")),
        col("geoid"), prefixLen = 2, lookupKey = "n_nationkey")
      .drop(geoDrop: _*)
      .withColumn("partition_month", date_format(col("ts"), "yyyy-MM"))
  }

  private[graft] val outputCols = Seq("user_id", "event_type", "ts", "value",
    "last_signup_value", "n_clicks", "click_value", "n_views", "c_name",
    "c_mktsegment", "price_src", "geoid", "n_name", "partition_month",
    "iteration")

  /** The consume stages composed ONCE, for both entry points ([[compose]]
    * and [[build]]): every iteration's output rows over `events`, tagged by
    * their `iteration` column, which comes last.
    *
    * The reference re-runs stages 1–3 per (country × distribution) loop row
    * (`script/main.py:305-346`). Here every stage runs once for all
    * iterations: stage 1 runs over the repaired stream, and each of its
    * rows is tagged with the name of every iteration whose filter it
    * matches (`explode`, so a row matching two overlapping filters appears
    * under both). Stage 2 runs on the tagged rows, stage 3 is keyed by
    * `(iteration, user_id)` so each iteration's invalid-id rule and price
    * history see only that iteration's rows, and `modify` follows. Stage 1
    * being iteration-invariant rests on the iteration filters being
    * per-user predicates: the day-dedup window partitions by user_id.
    *
    * `baseDataDrop` (dotted paths allowed) drops from the stage-3 result
    * BEFORE `modify`; `geoDrop` drops inside [[modify]].
    */
  private def frames(spark: SparkSession, dir: String, events: DataFrame,
                     params: ConsumeParams, baseDataDrop: Seq[String],
                     geoDrop: Seq[String]): DataFrame = {
    val side = SideInputs(Tables.orders(spark, dir), events,
      params.activityFrom, params.activityTo)
    val tags = params.iterations.map(it => when(it.filter, lit(it.name)))
    val base1 = baseFirst(repairCdc(events), Tables.customer(spark, dir))
      .withColumn("iteration", explode(filter(array(tags: _*), _.isNotNull)))
    val b3 = baseFinal(enrich(base1, side), params.monthStart, params.monthEnd,
      keys = Seq(col("iteration"), col("user_id")))
    val kept = if (baseDataDrop.isEmpty) b3 else Reshape.dropPaths(b3, baseDataDrop)
    val out = modify(kept, Tables.nation(spark, dir), geoDrop)
    out.select((out.columns.filterNot(_ == "iteration") :+ "iteration").map(col): _*)
  }

  /** The consume job's cache scope, as a loan: [[frames]] with the CDC
    * stream and the output cached, handed to `use`, and both caches
    * released when `use` returns or throws — the reference's
    * cache/unpersist lifecycle (`script/main.py:125,324,370`). A plan the
    * caller already cached is read, never cached or released here.
    *
    * The CDC stream is cached because the repair's window and the fused
    * side aggregation both read it (C1); the output because the caller
    * runs several actions on it, like the reference's per-iteration loop
    * body (`script/main.py:305-393`): the first action builds the output
    * cache and every later one reads it.
    */
  def compose[A](spark: SparkSession, dir: String, params: ConsumeParams,
                 baseDataDrop: Seq[String] = Nil, geoDrop: Seq[String] = Nil)
                (use: DataFrame => A): A = {
    val events = Tables.events(spark, dir)
    val all = frames(spark, dir, events, params, baseDataDrop, geoDrop)
    CacheScope.withScope {
      // events first: caching `all` plans it, and that plan must read the
      // events cache
      CacheScope.cache(events)
      use(CacheScope.cache(all))
    }
  }

  /** Full composed pipeline as one lazy DataFrame (no sinks, no caches):
    * [[frames]] projected to [[outputCols]]. It leaves nothing registered
    * with the cache manager, so a caller that runs several actions on it
    * caches it itself.
    */
  def build(spark: SparkSession, dir: String,
            params: ConsumeParams = ConsumeParams()): DataFrame =
    frames(spark, dir, Tables.events(spark, dir), params, Nil, Nil)
      .select(outputCols.map(col): _*)
}
