package graft.tools

import graft.Env

/** Scaling-rehearsal runner: executes a comma-separated list of
  * SparkEntry queries once each against a data directory and prints one
  * `[rehearsal] name,seconds,rows` line per query.
  *
  * {{{
  *   runMain graft.tools.RehearsalRun /root/testdata/sf0.1 g1_pagerank,s3_ann_ivf_topk
  *   runMain graft.tools.RehearsalRun /tmp/sf1 g1_pagerank,s3_ann_ivf_topk
  * }}}
  *
  * Protocol matches the round-10 d-family rehearsal (SCALE.md "sf0.1 →
  * sf1"): cold JVM, one pass, no warmup, session config identical to
  * [[graft.Bench]] — so the sf0.1/sf1 wall-time RATIO is comparable even
  * though the absolute numbers carry first-execution JIT cost. Storage
  * blocks are dropped between queries the same way Bench does, so one
  * query's localCheckpoint rounds can't crowd a later query into spill.
  *
  * Tier experiments set the session through `spark.*` properties, e.g.
  * `JAVA_TOOL_OPTIONS='-Dspark.sql.shuffle.partitions=N'`: the partition
  * count the SCALE.md table says scales with data (2–3× total cores on a
  * real cluster) — the 10×/100× tiers on a FIXED 32 keep per-partition
  * reduce state growing with the tier, the difference between spill-thrash
  * and linear in the d15 sf10 decade. `-Dspark.sql.adaptive.enabled=false`
  * isolates AQE, and `-Dspark.sql.adaptive.coalescePartitions.enabled=false`
  * keeps its join re-planning but stops its byte-targeted post-shuffle
  * coalescing, which can under-provision tasks on CPU-per-byte-extreme
  * plans (compressed-long shuffles feeding enumeration-heavy joins).
  */
object RehearsalRun {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: RehearsalRun <dataDir> <q1,q2,...>")
    val dir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val spark = Env.session()
    // Per-query physical I/O accounting (round 12): when a wall ratio
    // comes out superlinear, the shuffle/spill byte totals say whether the
    // PLAN grew superlinearly (bytes grew faster than data) or the BOX hit
    // its bandwidth floor (bytes linear, seconds-per-byte degraded) — the
    // distinction the d15 decade diagnosis turns on.
    val bytes = new java.util.concurrent.atomic.AtomicLongArray(5)
    // (stage name, task-time-sum sec) — top entries say WHERE a tier's
    // wall went; task-time sums are stable under the 32-thread overlap
    val stages = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          bytes.addAndGet(0, m.shuffleReadMetrics.totalBytesRead)
          bytes.addAndGet(1, m.shuffleWriteMetrics.bytesWritten)
          bytes.addAndGet(2, m.memoryBytesSpilled)
          bytes.addAndGet(3, m.diskBytesSpilled)
          bytes.addAndGet(4, m.inputMetrics.bytesRead)
        }
      }
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val info = e.stageInfo
        val key = info.name.takeWhile(_ != '('). take(40) +
          s"#${info.details.hashCode.toHexString.take(4)}"
        val sec = info.taskMetrics.executorRunTime / 1e3
        stages.merge(key, sec, (a, b) => a + b)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    for (name <- names) {
      (0 until 5).foreach(bytes.set(_, 0L))
      val calib = graft.Bench.calibrate()
      val t0 = System.nanoTime()
      val rows = graft.SparkEntry.queries(name)(spark, dir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      // listener events are async — drain before reading the counters
      org.apache.spark.sql.graftfn.drainListenerBus(spark)
      def gb(i: Int): String = f"${bytes.get(i) / 1e9}%.2f"
      println(f"[rehearsal] $name,$sec%.2f,$rows,calib=$calib%.3f," +
        s"shufR=${gb(0)}g,shufW=${gb(1)}g,memSpill=${gb(2)}g," +
        s"diskSpill=${gb(3)}g,input=${gb(4)}g")
      if (sys.env.contains("SPARK_GRAFT_STAGES")) {
        import scala.jdk.CollectionConverters._
        stages.asScala.toSeq.sortBy(-_._2).take(8).foreach { case (k, v) =>
          println(f"[stage] $name,$k,$v%.1f")
        }
      }
      stages.clear()
      // Bench's full cleanup, GC kick included — without it broadcast and
      // shuffle blocks accumulate across the list and inflate the later
      // queries' walls (the exact cross-query bleed the ratio table must
      // not carry)
      graft.Bench.dropAllBlocks(spark)
    }
    spark.stop()
  }
}
