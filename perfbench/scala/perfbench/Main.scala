package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: one process = one fresh JVM.
  *
  * {{{
  *   perfbench.Main oracle <outDir>
  *   perfbench.Main <workload> <dataDir> <workDir> <resultFile> [key=value ...]
  * }}}
  *
  * Keys (defaults): `cores=4` local cores and shuffle partitions, `warmups=0`
  * untimed runs first, `traced=0` one traced run before the timed ones,
  * `runs=1` minimum timed runs, `seconds=0` keep running timed runs until this
  * much time has passed, `local1=0` one more run on a fresh `local[1]`
  * session at the end. Every timed run starts isolated: no cached or
  * persisted block survives from an earlier run.
  */
object Main {

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Drop every cached and persisted block, let the ContextCleaner reclaim
    * broadcasts and shuffles, and return the RDD blocks still stored.
    */
  def isolate(spark: SparkSession, probe: Probe): Int = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    val deadline = System.nanoTime() + 10000000000L
    def left = probe.storedBlocks()._2
    while (left > 0 && System.nanoTime() < deadline) Thread.sleep(50)
    Thread.sleep(200) // cleaner thread: reference-queue work after the GC
    left
  }

  private def files(root: Path): Map[String, (Long, Long)] =
    if (!Files.exists(root)) Map.empty
    else Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".")
        && !p.getFileName.toString.startsWith("_"))
      .map(p => p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis))
      .toMap

  def main(args: Array[String]): Unit = {
    if (args(0) == "oracle") {
      Files.createDirectories(Paths.get(args(1)))
      for (q <- Seq("pipe_consume_e2e", "d6_neardup_dedup"))
        Files.writeString(Paths.get(args(1), s"$q.sql"), graft.SparkEntry.oracleSql(q))
      return
    }
    val mainStart = System.nanoTime()
    val jvmUptimeAtMain = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val Array(workload, dataDir, workDir, resultFile) = args.take(4)
    val kv = args.drop(4).map { a => val Array(k, v) = a.split("=", 2); k -> v }.toMap
    def opt(k: String, d: Int) = kv.get(k).fold(d)(_.toInt)
    val cores = opt("cores", 4)

    val result = mutable.LinkedHashMap.empty[String, Any]
    val runs = mutable.ArrayBuffer.empty[Map[String, Any]]
    result("runs") = runs
    var spark = session(cores, workDir)
    val sessionReady = System.nanoTime()
    Workloads.firstListing(spark, workload, dataDir)
    val listed = System.nanoTime()
    result("setup_s") = jvmUptimeAtMain + (listed - mainStart) / 1e9
    result("setup_parts") = Map("jvm_s" -> jvmUptimeAtMain,
      "session_s" -> (sessionReady - mainStart) / 1e9, "listing_s" -> (listed - sessionReady) / 1e9)
    var probe = new Probe(spark.sparkContext)

    var runNo = 0
    def measured(kind: String, c: Int)(body: String => Option[Seq[Long]]): Unit = {
      val out = s"$workDir/out/run$runNo"
      runNo += 1
      val rec = mutable.LinkedHashMap[String, Any]("kind" -> kind, "cores" -> c, "out" -> out)
      try {
        val leftover = isolate(spark, probe)
        rec("leftover_blocks") = leftover
        if (leftover != 0) throw new IllegalStateException(s"$leftover RDD blocks survived isolation")
        val before = files(Paths.get(out))
        probe.resetPeaks()
        val c0 = probe.snapshot()
        val t0 = System.nanoTime()
        val sum = body(out)
        val wall = (System.nanoTime() - t0) / 1e9
        rec("wall_s") = wall
        rec("counters") = (probe.snapshot() - c0).toMap(wall, c)
        rec("checksum") = sum
        val written = files(Paths.get(out)).filter { case (k, v) => !before.get(k).contains(v) }
        rec("files_written") = written.size
        rec("bytes_written") = written.values.map(_._1).sum
      } catch {
        case NonFatal(e) =>
          rec("error") = s"${e.getClass.getName}: ${e.getMessage}".take(2000)
      }
      runs += rec.toMap
    }

    for (_ <- 0 until opt("warmups", 0)) Workloads.run(spark, workload, dataDir, s"$workDir/out/warmup")
    if (opt("traced", 0) == 1) {
      val tr = new Tracer(probe, s"run$runNo", cores)
      measured("traced", cores)(out => Workloads.traced(spark, workload, dataDir, out, tr))
      result("spans") = tr.toJson
      result("self_by_layer") = tr.selfByLayer
    }
    val seconds = kv.get("seconds").fold(0.0)(_.toDouble)
    val loopStart = System.nanoTime()
    var timed = 0
    while (timed < opt("runs", 1) || (System.nanoTime() - loopStart) / 1e9 < seconds) {
      measured("timed", cores)(out => Workloads.run(spark, workload, dataDir, out))
      timed += 1
    }
    if (opt("local1", 0) == 1) {
      spark.stop()
      spark = session(1, workDir)
      probe = new Probe(spark.sparkContext)
      measured("local1", 1)(out => Workloads.run(spark, workload, dataDir, out))
    }
    spark.stop()
    Files.writeString(Paths.get(resultFile), Json(result))
  }
}
