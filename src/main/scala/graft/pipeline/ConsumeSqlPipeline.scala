package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.CacheScope
import graft.io.Sources

/** The consume pipeline driven by parameterized SQL TEMPLATES — the
  * reference's actual execution mode (`script/helper.py:64-72,225-269` reads
  * `.sql` files, formats `{placeholders}`, and runs them via `spark.sql`
  * against temp views; only the final `modify_data` step is DataFrame code,
  * `script/main.py:157-193`).
  *
  * Same semantics as [[ConsumePipeline.build]] — ConsumeSqlSpec asserts the
  * two are row-identical, and the driver's `pipe_consume_sql` query shares
  * `pipe_consume_e2e`'s oracle. The DataFrame pipeline remains the
  * recommended path (fused side aggregates, explicit caching); this one
  * exists for template fidelity: a reference user can keep maintaining SQL
  * files.
  *
  * Templates live on the classpath (the `graft/queries` resource dir) and
  * interpolate with Python `str.format` semantics via [[Sources.formatSql]].
  */
object ConsumeSqlPipeline {

  private val extraCols = Seq("value", "props", "event_id")
  private val base2Cols = Seq("user_id", "event_type", "ts") ++ extraCols ++
    Seq("c_name", "c_mktsegment", "last_signup_value", "n_clicks",
      "click_value", "n_views")

  /** The pipeline as one lazy DataFrame over the templates' temp views.
    * Its caches (the repaired stream, the four side views, the hoisted
    * base1 and each iteration's base2) go through [[CacheScope.cache]]:
    * inside `CacheScope.withScope` they are released at scope exit, outside
    * one they stay for the caller to clear.
    */
  def build(spark: SparkSession, dir: String,
            params: ConsumeParams = ConsumeParams()): DataFrame = {
    Tables.events(spark, dir).createOrReplaceTempView("graft_cdc")
    Tables.customer(spark, dir).createOrReplaceTempView("graft_customer")
    Tables.orders(spark, dir).createOrReplaceTempView("graft_orders")
    val nation = Tables.nation(spark, dir)

    val q0 = Sources.readAndFormatSqlResource("graft/queries/0-merge_delete.sql", Map(
      "cdc_view" -> "graft_cdc",
      "delete_value" -> "error",
      "extra_columns_wo_prefix" -> extraCols.mkString(", "),
      "extra_columns_with_prefix" -> extraCols.map("b." + _).mkString(", ")))
    // cached across the iteration loop — the reference caches its cleaned
    // CDC table the same way (script/main.py:125). Repartitioned on
    // user_id BEFORE the cache: the template's union leaves no known layout,
    // and the stage-1 window's (user_id, day) clustering is satisfied by
    // the user_id layout (subset rule), so the window adds no exchange and
    // the hoisted base1 view caches aligned. (The DataFrame path gets the
    // same layout from its repair window, with no repartition.)
    CacheScope.cache(spark.sql(q0).repartition(col("user_id")))
      .createOrReplaceTempView("graft_repaired")

    // Loop-invariant stage-2 side inputs (templates 2a–2d): the activity id
    // set and the three per-user statistic families depend only on the
    // sources and the date window, never on the iteration — materialize each
    // ONCE as a cached view instead of re-aggregating the event stream per
    // iteration (the SQL twin of ConsumePipeline.SideInputs; r3 measured the
    // per-iteration re-aggregation at 2.5× the DataFrame path).
    val sideViews = Seq(
      ("graft_side_activity", "graft/queries/2a-side_activity.sql", Map(
        "orders_view" -> "graft_orders",
        "activity_from" -> params.activityFrom,
        "activity_to" -> params.activityTo)),
      ("graft_side_control", "graft/queries/2b-side_control.sql",
        Map("cdc_view" -> "graft_cdc")),
      ("graft_side_clicks", "graft/queries/2c-side_clicks.sql",
        Map("cdc_view" -> "graft_cdc")),
      ("graft_side_views", "graft/queries/2d-side_views.sql",
        Map("cdc_view" -> "graft_cdc")))
    sideViews.foreach { case (view, resource, vars) =>
      CacheScope.cache(spark.sql(Sources.readAndFormatSqlResource(resource, vars)))
        .createOrReplaceTempView(view)
    }

    // Stage 1 hoisted out of the loop, same argument as the DataFrame path
    // (ConsumePipeline.build): the day-dedup window is user-keyed and every
    // iteration filter is a per-user predicate, so the window + enrichment
    // run ONCE with the filter placeholder bound to TRUE, and each
    // iteration is a plain WHERE over the cached result. The template is
    // UNCHANGED — `{iteration_filter}` simply receives `true` for the
    // hoisted run (the reference re-runs query 1 per loop pass).
    val q1 = Sources.readAndFormatSqlResource("graft/queries/1-basedata_first.sql", Map(
      "repaired_view" -> "graft_repaired",
      "customer_view" -> "graft_customer",
      "extra_columns_wo_prefix" -> extraCols.mkString(", "),
      "extra_columns_l_prefix" -> extraCols.map("l." + _).mkString(", "),
      "iteration_filter" -> "true"))
    CacheScope.cache(spark.sql(q1)).createOrReplaceTempView("graft_base1_all")

    params.iterations.map { it =>
      // Column → SQL text, exactly like the reference's
      // {geoid}/{distribution_type} placeholders
      spark.sql(s"select * from graft_base1_all where " +
          org.apache.spark.sql.graftfn.asSqlText(it.filter))
        .createOrReplaceTempView(s"graft_base1_${it.name}")

      val q2 = Sources.readAndFormatSqlResource("graft/queries/2-basedata_df.sql", Map(
        "base1_view" -> s"graft_base1_${it.name}",
        "activity_view" -> "graft_side_activity",
        "control_view" -> "graft_side_control",
        "clicks_view" -> "graft_side_clicks",
        "views_view" -> "graft_side_views"))
      // cached: stage 3 reads base2 four times (two history branches, each
      // with the invalid-id subquery) — uncached, the whole stage-2 join
      // tree would recompute per reference. The user_id alignment arrives
      // free from the repaired view's layout (see above), so no
      // per-iteration repartition; stage 3 stays shuffle-free.
      CacheScope.cache(spark.sql(q2))
        .createOrReplaceTempView(s"graft_base2_${it.name}")

      val q3 = Sources.readAndFormatSqlResource("graft/queries/3-basedata_final.sql", Map(
        "base2_view" -> s"graft_base2_${it.name}",
        "final_columns" -> base2Cols.mkString(", "),
        "month_start" -> params.monthStart,
        "month_end" -> params.monthEnd))

      ConsumePipeline.modify(spark.sql(q3), nation)
        .withColumn("iteration", lit(it.name))
        .select(ConsumePipeline.outputCols.map(col): _*)
    }.reduce(_ unionByName _)
  }
}
