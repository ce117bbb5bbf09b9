package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.pipeline.{ConsumeJob, ConsumePipeline, ConsumeSqlPipeline}

/** The SQL-template pipeline and the sink entry point must be
  * row-identical to the DataFrame pipeline — same stages, three execution
  * modes (reference fidelity: `script/helper.py:64-72` runs the real job
  * from `.sql` files; `ConsumeJob.run` writes the same rows to its table).
  */
class ConsumeSqlSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("SQL-template pipeline is row-identical to the DataFrame pipeline") {
    val df = ConsumePipeline.build(spark, sf)
    val sql = ConsumeSqlPipeline.build(spark, sf)
    assert(df.columns.toSeq == sql.columns.toSeq)
    // multiset compare on collected rows (combining the two plans in one
    // exceptAll trips DeduplicateRelations on the temp-view plan)
    def multiset(d: DataFrame) =
      d.collect().toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    val (a, b) = (multiset(df), multiset(sql))
    assert(a.nonEmpty)
    assert(a == b)
    // the table ConsumeJob.run writes, read back in the pipeline's columns
    val out = java.nio.file.Files.createTempDirectory("graft-consume-sql").toString
    ConsumeJob.run(spark, sf, out)
    val table = spark.read.parquet(s"$out/table")
      .select(ConsumePipeline.outputCols.map(col): _*)
    // parquet reads every column back nullable: compare names and types
    def types(d: DataFrame) = d.schema.map(f => f.name -> f.dataType)
    assert(types(table) == types(df))
    assert(multiset(table) == a)
  }

  test("templates interpolate with str.format semantics (escaped braces kept)") {
    val out = graft.io.Sources.readAndFormatSqlResource(
      "graft/queries/0-merge_delete.sql",
      Map("cdc_view" -> "v", "delete_value" -> "error",
        "extra_columns_wo_prefix" -> "value",
        "extra_columns_with_prefix" -> "b.value"))
    assert(out.contains("from v") && out.contains("= 'error'"))
    assert(!out.contains("{")) // every placeholder resolved
  }
}
