package graft.pipeline

/** Runnable job entry point — the reference's `main.py` as an application:
  *
  * {{{
  *   sbt "runMain graft.pipeline.ConsumeJobMain <sfDir> <outDir>"
  * }}}
  *
  * Loads the sources, runs the 4-stage pipeline per iteration, writes the
  * per-iteration gzip JSON + CSV exports and the final month-partitioned
  * parquet table (delete-insert), and prints a row-count summary.
  */
object ConsumeJobMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("/tmp/graft-consume-out")
    val spark = graft.Env.session("graft-consume")
    val result = ConsumeJob.run(spark, sfDir, outDir)
    println(s"[consume] wrote ${result.count()} rows to $outDir")
    spark.stop()
  }
}
