package graft.ops

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Scale-adaptive shuffle sizing for ITERATION loops (connected-components
  * rounds, rank vectors, gradient rollups, BPE pair tables) whose per-round
  * frames are ROW-COUNTED by the loop itself before the rounds run.
  *
  * The problem (optimization-guide §2.2/§2.4, measured round 13): a round's
  * exchanges inherit the session's data-scale shuffle parallelism, but a
  * fixpoint loop runs 5–40 rounds over frames the loop already knows are
  * tiny — every round then pays either full task-dispatch fan-out (AQE off:
  * 32 tasks × ~8 exchanges × ~10 rounds of sub-ms work) or one scheduler
  * job per exchange (AQE on: its per-stage replanning turns an 8-exchange
  * round into 8 sequential jobs). Measured on the six CC-family bench
  * queries at sf0.1 (3-rep min, clean calib): session default 47.7 s,
  * AQE-off alone 62.7 s, AQE-off + size-derived partition count 34.9 s.
  *
  * The fix is derived from DATA SIZE, not tuned for a core count: the loop
  * passes its measured row count (edge-set fingerprints and seed counts —
  * numbers the loops already compute for convergence) and this helper sizes
  * the loop's shuffles to `bytes / 64 MB` partitions. At test scale that is
  * 1 (rounds become single scheduler jobs with single-task exchanges); at
  * 100 TB the estimate exceeds the session's own parallelism and the helper
  * DOES NOTHING — AQE, skew handling and the session's partition count stay
  * exactly as they are today. The flip engages only when the loop's state
  * is provably below ~half the session's data-scale sizing.
  *
  * The conf window is session-visible (Spark session confs are not
  * thread-local): a concurrent query in the same session can observe it.
  * That is performance-only — partitioning never changes results — and the
  * library's entry points run queries sequentially.
  */
object AdaptiveIter {

  /** Target post-shuffle partition size for loop-internal exchanges —
    * the guide's 100 MB–1 GB reduce-partition band, low end, because loop
    * frames re-shuffle every round.
    */
  private val targetBytes = 64L * 1024 * 1024

  /** Run `body` (an iteration loop that materializes its own rounds) with
    * the loop's shuffles sized to its measured state: `estRows × rowBytes`
    * decides the partition count. When that count reaches the session's
    * configured parallelism the call is a NO-OP (data-scale loop: AQE and
    * skew handling stay on); below it, AQE is paused and
    * `spark.sql.shuffle.partitions` set to the derived count for the
    * loop's duration, so each round runs as one scheduler job with
    * byte-proportionate tasks. Previous settings (set or unset) are
    * restored on exit, also when `body` throws. An unreadable session
    * partition count leaves the session as it is.
    */
  def sizedRounds[T](spark: SparkSession, estRows: Long, rowBytes: Int = 48)
                    (body: => T): T = {
    val sessionParts =
      try spark.conf.get("spark.sql.shuffle.partitions").toInt
      catch { case NonFatal(_) => return body }
    val p = math.max(1L, (estRows.max(0L) * rowBytes + targetBytes - 1) / targetBytes)
    if (2 * p >= sessionParts) return body
    val flips = Seq(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> p.toString)
    val saved = flips.map { case (k, _) => k -> spark.conf.getOption(k) }
    flips.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, prev) =>
      prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }
}
