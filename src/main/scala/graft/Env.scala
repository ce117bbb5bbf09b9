package graft

import org.apache.spark.sql.SparkSession
import graft.functions.GraftExtensions

/** The one session posture every graft main runs under. Bench and Verify
  * must agree on the session sizing or their numbers stop being comparable
  * (round 2: a fixed small default made the driver bench run local[4]), and
  * a job submitted to a cluster must keep the master and confs that
  * `spark-submit --master/--conf` hand it — so every main builds its session
  * through [[session]], and each default below yields to a JVM system
  * property with the same `spark.*` key (what spark-submit sets, and what
  * `-D…` or `JAVA_TOOL_OPTIONS` set for a local run).
  *
  * Defaults: `local[cpus]` with `cpus` shuffle partitions, UTC session time
  * zone, UI off, and small live status-store caps. The caps matter even
  * with the UI off: AppStatusListener keeps up to 1000 jobs/stages + 100k
  * TaskDataWrappers (per-task metric update lists) and SQLAppStatusListener
  * keeps 1000 SQLExecutionUIData entries, each holding the FULL formatted
  * physical plan string of plans that run to hundreds of KB here. Across
  * Bench's 299-query × 2-pass suite that accreted to 5–6 GB of heap that
  * no clearCache/unpersist/System.gc() frees (r10: heap≈5.6g right after
  * all three), and the biggest queries then ran 3–4× slower in-suite than
  * in a fresh JVM (a35: 26.3 s vs 3.7 s). Any long driver loop — a
  * 500-round BPE trainer, a trigger soak — has the same shape; no main
  * reads the stores.
  */
object Env {
  /** Core count for the default `local[N]` and `spark.sql.shuffle.partitions`:
    * the SPARK_GRAFT_CPUS override, else every host core (the driver contract
    * is local[32] and the driver does not export the override).
    */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  /** The session defaults not already set by a `spark.*` key in `props`. */
  private[graft] def defaults(
      props: collection.Map[String, String]): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.ui.retainedJobs" -> "20",
    "spark.ui.retainedStages" -> "40",
    "spark.ui.retainedTasks" -> "1000",
    "spark.sql.ui.retainedExecutions" -> "5",
    "spark.ui.retainedDeadExecutors" -> "0",
  ).filterNot { case (k, _) => props.contains(k) }

  /** The session for a graft main: [[defaults]] under the JVM's `spark.*`
    * properties (SparkConf reads those itself), graft's SQL functions
    * registered, log level ERROR.
    */
  def session(appName: String = "graft"): SparkSession = {
    val b = SparkSession.builder().withExtensions(new GraftExtensions)
    if (!sys.props.contains("spark.app.name")) b.appName(appName)
    defaults(sys.props).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** JSON string literal for the driver-contract outputs: escapes backslash,
    * quote and ALL control chars (< 0x20) — a tab or CR in builder-authored
    * SQL would otherwise make the driver's json.load fail and silently zero
    * the round's correctness.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
