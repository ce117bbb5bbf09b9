package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Env

/** Zipfian-corpus BPE rehearsal (r11 verdict ask #7): the synthetic
  * rehearsal alphabet exhausts its merge closure at a few hundred merges
  * (sf1: 779) and caps sf10 at 4096, so the 16k–32k merge regime real
  * tokenizers train in was unmeasured. This tool generates a corpus whose
  * WORD DISTRIBUTION is Zipfian (rank-frequency ∝ 1/rank, the empirical
  * law for natural language) over a large syllabic vocabulary, then runs
  * [[graft.text.Bpe.trainBatched]] to a deep merge budget with the
  * per-round progress log on.
  *
  * Corpus construction (fully distributed, deterministic in (docId, i) —
  * replays bit-identically):
  *
  *  - each document is `wordsPerDoc` draws from the vocabulary;
  *  - a draw maps a uniform 53-bit hash u ∈ [0,1) through the standard
  *    s = 1 Zipf inverse CDF approximation `rank = ⌊(V+1)^u⌋ − 1`
  *    (P[rank ≤ r] = ln(r+2)/ln(V+1) ⇒ density ∝ 1/(rank+1));
  *  - rank spells as 4 syllables from a 20-syllable inventory (base-20
  *    digits), so words share prefixes/suffixes heavily — the subword
  *    structure BPE exists to find; addressable vocab 20⁴ = 160k.
  *
  * Usage:
  * `runMain graft.tools.BpeZipf <nDocs> <wordsPerDoc> <vocab> <nMerges> <batch>`
  * e.g. `runMain graft.tools.BpeZipf 200000 80 50000 16384 32`
  */
object BpeZipf {

  private val syllables = Seq(
    "ba", "ke", "ri", "no", "ta", "lu", "mi", "so", "fa", "de",
    "po", "ga", "vu", "ze", "cho", "qua", "sti", "bre", "orn", "ish")

  /** rank (0-based) → 4-syllable word, as a Spark column. */
  private def spell(rank: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val inv = array(syllables.map(lit): _*)
    concat(
      element_at(inv, (pmod(rank / 8000, lit(20)) + 1).cast("int")),
      element_at(inv, (pmod(rank / 400, lit(20)) + 1).cast("int")),
      element_at(inv, (pmod(rank / 20, lit(20)) + 1).cast("int")),
      element_at(inv, (pmod(rank, lit(20)) + 1).cast("int")))
  }

  /** The Zipf corpus as (doc_id, text) — exposed so a spec can pin the
    * distribution's determinism and shape.
    */
  def corpus(spark: SparkSession, nDocs: Long, wordsPerDoc: Int,
             vocab: Int): DataFrame = {
    require(vocab >= 1 && vocab <= 160000, "vocab must be in 1..160000 (20^4)")
    val lnV1 = math.log(vocab + 1.0)
    spark.range(nDocs).toDF("doc_id")
      .select(col("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(wordsPerDoc - 1)), i => {
          // uniform in [0,1) from the top 53 bits of xxhash64(doc, i)
          val u = (shiftrightunsigned(xxhash64(col("doc_id"), i), 11)
            .cast("double") / lit(9007199254740992.0))
          // s=1 Zipf inverse CDF: rank = floor((V+1)^u) - 1, clamped
          val rank = least(
            greatest(floor(exp(u * lit(lnV1))) - 1, lit(0.0)),
            lit((vocab - 1).toDouble)).cast("long")
          spell(rank)
        })).as("text"))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 5,
      "usage: BpeZipf <nDocs> <wordsPerDoc> <vocab> <nMerges> <batch> " +
        "[saveTsv]")
    val (nDocs, wordsPerDoc, vocab, nMerges, batch) =
      (args(0).toLong, args(1).toInt, args(2).toInt, args(3).toInt,
        args(4).toInt)
    val spark = Env.session()
    val docs = corpus(spark, nDocs, wordsPerDoc, vocab)
    val distinctWords = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .select(countDistinct("w")).head.getLong(0)
    System.err.println(s"[bpe-zipf] $nDocs docs x $wordsPerDoc words, " +
      s"$distinctWords distinct words (vocab param $vocab)")
    val t0 = System.nanoTime()
    val merges = graft.text.Bpe.trainBatched(docs, col("text"),
      nMerges = nMerges, batch = batch, logEvery = 16)
    val wall = (System.nanoTime() - t0) / 1e9
    graft.text.Bpe.validate(merges.map(m => (m._1, m._2)))
    println(f"[bpe-zipf] merges=${merges.size} wall=$wall%.1f s " +
      f"(${wall / math.max(merges.size, 1) * batch}%.2f s/round at batch=$batch)")
    // optional: persist the trained table as TSV (lhs \t rhs \t count) so
    // the encode-scale harness (BpeEncodeScale) applies the REAL tokenizer
    // instead of retraining 30+ minutes per measurement
    args.lift(5).foreach { path =>
      val lines = merges.map { case (a, b, c) => s"$a\t$b\t$c" }
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        lines.mkString("\n").getBytes("UTF-8"))
      System.err.println(s"[bpe-zipf] table saved to $path")
    }
    spark.stop()
  }
}
