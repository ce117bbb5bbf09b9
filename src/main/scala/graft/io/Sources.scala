package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Input sources (SURVEY §2.1 S1/S4/S6; reference `script/main.py:129-134,
  * 250-258`, `script/helper.py:64-72`).
  *
  * S2/S3 (catalog scans with partition pushdown) reduce to
  * `spark.read.table(...).where(partitionPredicate)` — at local scale the
  * synthetic tables are plain parquet, so [[parquet]] plus a `.where` on the
  * partition column exercises the same Catalyst path
  * (`PruneFileSourcePartitions`).
  */
object Sources {

  /** S1 (`script/main.py:250-258`): recursive S3/FS parquet scan. Spark
    * handles partition-style subdirs natively; `recursiveFileLookup` covers
    * arbitrary (non-partition) nesting like the reference's raw landing
    * paths.
    */
  def parquet(spark: SparkSession, path: String, recursive: Boolean = false): DataFrame = {
    val r = spark.read
    (if (recursive) r.option("recursiveFileLookup", "true") else r).parquet(path)
  }

  /** Schema-drift-tolerant parquet scan — the reading half of the
    * reference's schema evolution story: Glue `DynamicFrame`s carry
    * per-record self-describing schemas and the output table auto-widens
    * (`enableUpdateCatalog`/`UPDATE_IN_DATABASE`, `script/main.py:410-413`),
    * so a consumer must cope with partitions written under different
    * schema versions. A plain `read.parquet` takes ONE footer's schema and
    * silently drops columns the sampled file lacks; `mergeSchema` unions
    * the footers instead, so columns added by newer runs surface corpus-
    * wide with nulls for the older partitions. Costs one footer read per
    * file at planning — enable it on evolving tables, not everywhere.
    */
  def parquetMerged(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** S2/S3 (`script/main.py:263-298`): catalog-table scan with an optional
    * partition predicate — the Glue `create_dynamic_frame.from_catalog(...,
    * push_down_predicate=...)` analog. With a predicate on the table's
    * partition columns, Catalyst's `PruneFileSourcePartitions` turns it into
    * metadata-only pruning (`PartitionFilters` on the scan — asserted by
    * PlanAuditSpec), so unmatched partitions are never listed, let alone
    * read; predicates on data columns push down into the scan instead.
    */
  def table(spark: SparkSession, name: String,
            predicate: Option[String] = None): DataFrame = {
    val t = spark.read.table(name)
    predicate.fold(t)(t.where)
  }

  /** S4 (`script/main.py:129-134`): CSV lookup load, header + inferSchema —
    * used for the small geo lookup tables that feed broadcast joins (J8).
    */
  def csvLookup(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** S6 (`script/helper.py:64-72`): SQL template load + `{placeholder}`
    * substitution (Python `str.format` semantics: every `{key}` replaced,
    * unknown keys are an error, `{{`/`}}` escape literal braces).
    */
  def formatSql(template: String, params: Map[String, String]): String = {
    val out = new StringBuilder
    var i = 0
    while (i < template.length) {
      template.charAt(i) match {
        case '{' if i + 1 < template.length && template.charAt(i + 1) == '{' =>
          out += '{'; i += 2
        case '}' if i + 1 < template.length && template.charAt(i + 1) == '}' =>
          out += '}'; i += 2
        case '{' =>
          val end = template.indexOf('}', i)
          if (end < 0) throw new IllegalArgumentException(s"unclosed '{' at $i")
          val key = template.substring(i + 1, end)
          out ++= params.getOrElse(key,
            throw new IllegalArgumentException(s"missing template param '$key'"))
          i = end + 1
        case c => out += c; i += 1
      }
    }
    out.toString
  }

  /** S6, as shipped: templates inside the library jar
    * (the `src/main/resources/graft/queries` directory), so the SQL
    * pipeline runs identically from sbt, spark-submit, or a test.
    */
  def readAndFormatSqlResource(resource: String, params: Map[String, String]): String = {
    val in = getClass.getClassLoader.getResourceAsStream(resource)
    require(in != null, s"missing SQL template resource '$resource'")
    try formatSql(new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8), params)
    finally in.close()
  }
}
