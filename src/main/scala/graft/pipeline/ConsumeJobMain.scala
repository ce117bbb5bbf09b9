package graft.pipeline

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** Runnable job entry point — the reference's `main.py` as an application:
  *
  * {{{
  *   sbt "runMain graft.pipeline.ConsumeJobMain <sfDir> <outDir>"
  * }}}
  *
  * Loads the sources, runs the 4-stage pipeline per iteration, writes the
  * per-iteration gzip JSON + CSV exports and the final month-partitioned
  * parquet table (delete-insert), and prints a row-count summary. The count
  * is the table write's own `numOutputRows` metric, caught by a listener
  * registered for the run, so printing it runs no further Spark job.
  */
object ConsumeJobMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("/tmp/graft-consume-out")
    val spark = graft.Env.session("graft-consume")
    val table = new Path(s"$outDir/table")
    val tablePath = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(table)
    val written = Promise[Long]()
    // the write command may sit inside adaptive query stages: the helper's
    // collectFirst descends into them
    val listener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        collectFirst(qe.executedPlan) {
          case w: DataWritingCommandExec if (w.cmd match {
            case c: InsertIntoHadoopFsRelationCommand => c.outputPath == tablePath
            case _ => false
          }) => w.metrics("numOutputRows").value
        }.foreach(written.trySuccess)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      ConsumeJob.run(spark, sfDir, outDir)
      // listeners run on the listener bus, after the write has returned
      val rows = Await.result(written.future, 60.seconds)
      println(s"[consume] wrote $rows rows to $outDir")
    } finally spark.listenerManager.unregister(listener)
    spark.stop()
  }
}
