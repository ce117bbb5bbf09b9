package graft.tools

/** Dev utility: print executed plans of selected queries
  * (`runMain graft.tools.PlanDump [sfDir] [query...]`).
  *
  * `--formatted <outDir> <suffix>` switches to the optimization-round
  * deliverable mode: each query's `.explain("formatted")` text is written
  * to `<outDir>/<query>_<suffix>.txt` (e.g. plans/r13/d6_neardup_dedup_before.txt)
  * instead of stdout. Formatted explain shows the operator list with
  * PushedFilters/ReadSchema/join strategy/Exchange placement — the level
  * the optimization guide (§7.2) reads plans at.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (mode, rest) =
      if (args.headOption.contains("--formatted"))
        (Some((args(1), args(2))), args.drop(3))
      else (None, args)
    val dir = rest.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (rest.length > 1) rest.tail.toSeq else Seq("d5_embedding_neardup")
    val spark = graft.Env.session()
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, dir)
      mode match {
        case Some((outDir, suffix)) =>
          val text = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          val p = java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt")
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.writeString(p, text)
          println(s"[plandump] wrote $p (${text.length} chars)")
        case None =>
          println(s"===== $n =====")
          println(df.queryExecution.executedPlan.toString)
      }
      graft.Bench.dropAllBlocks(spark)
    }
    spark.stop()
  }
}
