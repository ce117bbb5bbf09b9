package graft.tools

import org.apache.spark.sql.functions._

import graft.Env

/** Streaming near-dup gate SOAK (r11 verdict ask #6): drive
  * [[graft.streaming.StreamOps.nearDupGateBatch]] for hundreds of triggers
  * at a small compactEvery and record, per trigger: wall seconds, history
  * partition-directory count, and history row count — the curve that
  * proves the two-tier LSM fold's bounds OVER TIME, not just at the
  * 12-trigger spec scale:
  *
  *  - per-trigger wall stays FLAT (no O(history) read creep);
  *  - dir count stays ≤ 2·compactEvery + 2 forever;
  *  - level-2 (full-history) rewrites happen every ~compactEvery² triggers,
  *    visible as periodic wall spikes whose amortized cost is bounded.
  *
  * Usage: `runMain graft.tools.GateSoak <workDir> [triggers] [compactEvery]`
  * Prints one CSV line per trigger:
  * `[soak] trigger,wallSec,dirs,histRows` (stdout), suitable for SCALE.md.
  *
  * Each trigger lands ~40 documents: 30 novel + 10 near-duplicates of
  * documents admitted in earlier triggers (cross-trigger dups exercise the
  * batch×history gate; the novel tail keeps history growing so the fold
  * has real work). Text is deterministic in the trigger index — the soak
  * replays bit-identically.
  */
object GateSoak {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: GateSoak <workDir> [triggers] [compactEvery]")
    val work = args(0)
    val triggers = args.lift(1).map(_.toInt).getOrElse(300)
    val compactEvery = args.lift(2).map(_.toInt).getOrElse(16)
    val spark = Env.session()
    import spark.implicits._

    val historyPath = s"$work/history"
    val root = new org.apache.hadoop.fs.Path(historyPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())

    // deterministic synthetic text: ~25 words drawn from a 400-word
    // pseudo-vocabulary keyed on (docId, position). Near-dups reuse an
    // EARLIER doc's words with one word changed (J >> 0.9).
    def word(seed: Long): String = {
      val h = java.lang.Long.rotateLeft(seed * 0x9e3779b97f4a7c15L, 17)
      val v = math.floorMod(h, 400L)
      s"w$v"
    }
    def docText(id: Long): String =
      (0 until 25).map(i => word(id * 31 + i)).mkString(" ")
    def nearDupText(ofId: Long, salt: Long): String = {
      val base = (0 until 25).map(i => word(ofId * 31 + i))
      // change ONE word: 24/25 shared shingles, J ≈ 0.92 > threshold
      base.updated((salt % 25).toInt, word(salt * 131 + 7)).mkString(" ")
    }

    var admittedSoFar = 0L
    (0 until triggers).foreach { t =>
      val novel = (0 until 30).map { i =>
        val id = t * 40L + i
        (id, docText(id))
      }
      // near-dups of docs admitted in PRIOR triggers (none at t = 0):
      // dup of a novel doc from a uniformly-spread earlier trigger
      val dups = if (t == 0) Seq.empty else (0 until 10).map { i =>
        val prior = ((t * 7 + i * 13) % t) * 40L + (i % 30)
        (t * 40L + 30 + i, nearDupText(prior, t * 10 + i))
      }
      val batch = (novel ++ dups).toDF("doc_id", "text")
      val t0 = System.nanoTime()
      graft.streaming.StreamOps.nearDupGateBatch(batch, historyPath,
        batchId = t.toLong, idCol = "doc_id", textCol = "text",
        threshold = 0.9, compactEvery = compactEvery)
      val wall = (System.nanoTime() - t0) / 1e9
      val dirs = Option(fs.globStatus(
          new org.apache.hadoop.fs.Path(root, "__batch=*")))
        .fold(0)(_.length)
      // row count every trigger: the history read is the gate's own input
      // scale — cheap at soak size, and it pins "admissions not lost"
      val rows = spark.read.parquet(historyPath).count()
      if (rows > admittedSoFar) admittedSoFar = rows
      println(f"[soak] $t,$wall%.3f,$dirs,$rows")
      graft.Bench.dropAllBlocks(spark)
    }
    spark.stop()
  }
}
