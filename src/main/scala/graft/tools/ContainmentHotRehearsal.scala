package graft.tools

import org.apache.spark.sql.functions._

import graft.Env
import graft.dedup.Jaccard

/** Measured hot-range guard rehearsal (r12 verdict ask #6): a constructed
  * corpus where every document shares one token ("hot") — so ALL of that
  * token's `np·nc` candidate pairs land in whichever token range its hash
  * picks, defeating hash balancing — run through
  * [[Jaccard.containmentPairsBounded]] WITHOUT and WITH `maxPairsPerJob`.
  * Without a bound every live token range packs into ONE candidate job;
  * with it the ranges pack up to the bound and the hot range splits into
  * probe-id sub-jobs. Reports per-mode wall, the hot range's computed
  * weight, the sub-job count the bound induces, and result-row equality
  * (the guard must be a pure memory-shape knob).
  *
  * {{{
  *   runMain graft.tools.ContainmentHotRehearsal 20000 200000
  *   //                                          nDocs  maxPairsPerJob
  * }}}
  */
object ContainmentHotRehearsal {
  def main(args: Array[String]): Unit = {
    val nDocs = args.lift(0).map(_.toLong).getOrElse(20000L)
    val bound = args.lift(1).map(_.toLong).getOrElse(200000L)
    val spark = Env.session()
    // every doc: the hot token + 6 tail tokens from a 4k vocabulary
    // (deterministic in doc_id) — probes are a 1-in-50 sample, so the hot
    // token alone contributes (nDocs/50)·nDocs candidate pairs
    val docs = spark.range(nDocs).toDF("doc_id")
      .select(col("doc_id"), concat_ws(" ",
        lit("hot"),
        concat(lit("w"), pmod(col("doc_id") * 7 + 1, lit(4000))),
        concat(lit("w"), pmod(col("doc_id") * 13 + 2, lit(4000))),
        concat(lit("w"), pmod(col("doc_id") * 17 + 3, lit(4000))),
        concat(lit("w"), pmod(col("doc_id") * 19 + 4, lit(4000))),
        concat(lit("w"), pmod(col("doc_id") * 23 + 5, lit(4000))),
        concat(lit("w"), pmod(col("doc_id") * 29 + 6, lit(4000)))).as("text"))
    val probes = Jaccard.shingleSets(docs.filter(col("doc_id") % 50 === 0),
      col("doc_id"), col("text"), 1)
    val corpus = Jaccard.shingleSets(docs, col("doc_id"), col("text"), 1)
    val tmp = java.nio.file.Files.createTempDirectory("graft-hotrange")

    def run(label: String, maxPairs: Long): (Double, Long) = {
      val work = s"$tmp/$label"
      val t0 = System.nanoTime()
      val n = Jaccard.containmentPairsBounded(probes, corpus,
        threshold = 0.5, tokenBatches = 4, workDir = work,
        broadcastProbes = true, maxPairsPerJob = maxPairs).count()
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[hot-range] $label wall=$sec%.1f s pairs=$n")
      (sec, n)
    }

    val (tOff, nOff) = run("unguarded", Long.MaxValue)
    val (tOn, nOn) = run("guarded", bound)
    require(nOff == nOn, s"guard changed the answer: $nOff vs $nOn")
    val hotWeight = (nDocs / 50) * nDocs
    val subJobs = math.max(1L, (hotWeight + bound - 1) / bound)
    println(f"""{"metric":"hot_range","n_docs":$nDocs,"pairs":$nOff,""" +
      f""""unguarded_sec":$tOff%.1f,"guarded_sec":$tOn%.1f,""" +
      s""""bound":$bound,"hot_weight_approx":$hotWeight,""" +
      s""""hot_sub_jobs_approx":$subJobs}""")
    spark.stop()
  }
}
