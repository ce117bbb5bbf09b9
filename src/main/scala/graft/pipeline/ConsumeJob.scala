package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.io.{JobConfig, Sinks}
import graft.ops.Reshape

/** Job orchestration (SURVEY §3.3; reference `script/main.py:221-418`):
  * the consume stages composed by [[ConsumePipeline.compose]], with the
  * per-iteration JSON + CSV exports → accumulated rows of every iteration →
  * final partitioned parquet write with delete-insert semantics (K3).
  *
  * Mirrors the reference's action schedule: the two per-iteration exports
  * run inside the loop, in loop order; the accumulated rows are written
  * once at the end. All of it runs inside the `compose` loan: the first
  * export builds the output cache, the later exports and the table write
  * read it, and the loan releases both of its caches (the CDC stream and
  * the output) when the write returns or anything in the loan throws.
  */
object ConsumeJob {

  /** @return the accumulated rows that were written to `outDir/table`
    * (uncached once this returns).
    *
    * `cfg` wires the reference's config-driven export shapes
    * (`script/main.py:349-351,372`, `script/config.json:5-26`):
    *  - `colsToDropBaseData` drops (dotted paths allowed) from the stage-3
    *    result BEFORE `modify` — shapes the table write AND both exports;
    *  - `colsToDropJson` drops after `modify` — shapes the file exports
    *    only, the accumulated table keeps the columns;
    *  - `colsToKeep` whitelists prefix-family columns in the JSON branch
    *    (the families themselves come from `cfg.jsonDropPrefixes`,
    *    `script/helper.py:157-163`).
    * Without a config the exports keep their fixed demonstration shapes.
    *
    * `dateSegment` keys every file export by run date exactly like the
    * reference's S3 layout (`script/main.py:377-393`:
    * `.../{json|csv}/partitioncreateddate={date|full_refresh}`), so
    * downstream consumers can partition-discover exports by run. None keeps
    * the undated demonstration layout.
    */
  def run(spark: SparkSession, dir: String, outDir: String,
          params: ConsumeParams = ConsumeParams(),
          cfg: Option[JobConfig] = None,
          dateSegment: Option[String] = None): DataFrame = {
    // date-keyed export layout (`script/main.py:377-393`)
    val dateKey = dateSegment.fold("")(d => s"/partitioncreateddate=$d")
    // config-driven drops (`script/main.py:186,349-351`): the base-data drop
    // before modify and the geo drop inside it shape the accumulated table
    // AND both exports
    ConsumePipeline.compose(spark, dir, params,
        baseDataDrop = cfg.fold(Seq.empty[String])(_.colsToDropBaseData),
        geoDrop = cfg.fold(Seq.empty[String])(_.geoDropColumns)) { all =>
      params.iterations.map(_.name).foreach { name =>
        val out = all.filter(col("iteration") === name)
        cfg match {
          case Some(c) =>
            // config-driven export shapes (`script/main.py:372-393`): one
            // common drop list for both file exports; the JSON branch
            // additionally applies the prefix-family whitelist and re-nests
            val exportBase = Reshape.dropPaths(out, c.colsToDropJson)
            val json = Reshape.nestSchema(Reshape.dropPrefixedExcept(
              exportBase, c.jsonDropPrefixes, c.colsToKeep.toSet))
            Sinks.gzipJson(json, s"$outDir/json/$name$dateKey")
            Sinks.gzipCsv(exportBase, s"$outDir/csv/$name$dateKey")
          case None =>
            // K1: nested gzip JSON export (flat names re-nested on '_', F8).
            val json = Reshape.nestSchema(out.select("user_id", "event_type",
              "price_src", "partition_month", "n_name", "n_clicks", "n_views"))
            Sinks.gzipJson(json, s"$outDir/json/$name$dateKey")
            // K2: flat gzip CSV export.
            Sinks.gzipCsv(out.drop("props"), s"$outDir/csv/$name$dateKey")
        }
      }
      // K3: delete-insert of the month partitions present in the result.
      Sinks.overwritePartitions(all, s"$outDir/table", "partition_month")
      all
    }
  }
}
