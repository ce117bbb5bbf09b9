package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // optional extra args: restrict to the named queries (dev-side use)
    val only = args.drop(2).toSet
    val queries = SparkEntry.queries
    only.filterNot(queries.contains).toSeq.sorted
      .foreach(name => System.err.println(s"[verify] unknown query $name"))
    val spark = Env.session()
    new java.io.File(outDir).mkdirs()
    val ok = queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        true
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        false
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Env.jsonString(k)}: ${Env.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    System.err.println(s"[verify] ${ok.count(identity)} ok, ${ok.count(!_)} failed")
  }
}
