package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.dedup.CacheScope
import graft.pipeline.{ConsumeJob, ConsumeParams, ConsumePipeline, ConsumeSqlPipeline,
  IterationSpec}

/** The SQL-template pipeline and the sink entry point must be
  * row-identical to the DataFrame pipeline — same stages, three execution
  * modes (reference fidelity: `script/helper.py:64-72` runs the real job
  * from `.sql` files; `ConsumeJob.run` writes the same rows to its table).
  */
class ConsumeSqlSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  // multiset compare on collected rows (combining the two plans in one
  // exceptAll trips DeduplicateRelations on the temp-view plan)
  private def multiset(d: DataFrame) =
    d.collect().toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap

  // Both sides read one cached copy of the CDC stream: the per-user
  // `click_value` double sum then adds its terms in the same order on each
  // side, so the rows agree exactly, not just to within a few ulps. The
  // body runs in a cache scope, which releases the SQL mode's views.
  private def withPinnedEvents[A](body: => A): A = {
    val events = Tables.events(spark, sf).cache()
    try CacheScope.withScope(body) finally events.unpersist()
  }

  test("SQL-template pipeline is row-identical to the DataFrame pipeline") {
    withPinnedEvents {
      val df = ConsumePipeline.build(spark, sf)
      val sql = ConsumeSqlPipeline.build(spark, sf)
      assert(df.columns.toSeq == sql.columns.toSeq)
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
  }

  test("overlapping iterations: a row matching two filters lands under both names") {
    // HOUSEHOLD is in both slices; the SQL mode runs each iteration's
    // stages on its own filtered view, the DataFrame mode tags every row
    // with each iteration it matches and runs the stages once (at sf0.001
    // only BUILDING, HOUSEHOLD and FURNITURE users reach the output)
    val params = ConsumeParams(iterations = Seq(
      IterationSpec.bySegments("a", Seq("BUILDING", "HOUSEHOLD")),
      IterationSpec.bySegments("b", Seq("HOUSEHOLD", "FURNITURE"))))
    withPinnedEvents {
      val df = ConsumePipeline.build(spark, sf, params)
      val sql = ConsumeSqlPipeline.build(spark, sf, params)
      assert(df.columns.toSeq == sql.columns.toSeq)
      val rows = multiset(df)
      assert(rows.nonEmpty)
      assert(rows == multiset(sql))
      // a HOUSEHOLD user's rows are the same under both names
      val shared = df.filter(col("c_mktsegment") === "HOUSEHOLD")
      val underA = multiset(shared.filter(col("iteration") === "a").drop("iteration"))
      assert(underA.nonEmpty, "no HOUSEHOLD user survives the pipeline")
      assert(underA == multiset(shared.filter(col("iteration") === "b").drop("iteration")))
    }
  }

  test("a scoped build plus one action leaves no cache behind") {
    spark.catalog.clearCache()
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    assert(CacheScope.withScope(ConsumeSqlPipeline.build(spark, sf).count()) > 0)
    assert(spark.sparkContext.getPersistentRDDs.keySet == rddsBefore,
      "persistent RDDs leaked")
    assert(spark.sharedState.cacheManager.isEmpty, "cached entries leaked")
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
