package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + LSH near-duplicate detection over text — the scale path for
  * fuzzy dedup (the exact all-pairs baseline in [[Jaccard]] is quadratic).
  *
  * Pipeline: word-shingle → hashed shingle set + k min-hashes (one cached
  * projection; each document tokenizes once) → band → bucket self-join
  * (shuffle on band hash; only colliding docs meet) → exact-Jaccard
  * verification of the candidates.
  *
  * Scale notes:
  *  - The only quadratic work is INSIDE buckets; band/row counts (b×r=k)
  *    tune the similarity threshold s* ≈ (1/b)^(1/r) and bound bucket sizes.
  *  - All hashing is `xxhash64` + modular arithmetic on longs — codegen'd
  *    built-ins, no UDFs, so the signature stage is CPU-cheap and columnar.
  *  - Skew: a degenerate bucket (boilerplate shingle) can blow up the
  *    self-join; buckets above `maxBucket` rows are dropped
  *    (`withoutOversized`).
  */
object MinHashLSH {

  val P = 2147483647L // 2^31 - 1, Mersenne prime for (a*h+b) mod p

  /** Deterministic per-engine hash family: (a, b) pairs with 1 <= a < p. */
  def hashParams(numHashes: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numHashes)((1L + rnd.nextLong(P - 1), rnd.nextLong(P)))
  }

  /** Word n-gram shingles of the lower-cased text; a doc shorter than n
    * tokens contributes its whole text as one shingle.
    *
    * The token array is bound ONCE per row, as the lambda variable of a
    * one-element `transform`. Only the tree around a higher-order function
    * is compiled; its lambda is evaluated per element, so a `split` written
    * inside the shingle lambda re-splits the whole document for every
    * shingle — quadratic in document length. Bound once, the split runs once
    * and each shingle is an O(n) slice of the bound array.
    */
  def wordShingles(text: Column, n: Int): Column =
    element_at(transform(array(split(lower(text), " ")), toks =>
      when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
        .otherwise(array(concat_ws(" ", toks)))), 1)

  /** MinHash signatures: one row per doc with `sig: array<long>[numHashes]`
    * — the `sig` column of [[setsAndSignatures]], so one code path hashes
    * shingles.
    *
    * A pure projection — per row, hash each distinct shingle once, then
    * take the min of each permutation `(a·h+b) mod p` — so the operator is
    * embarrassingly parallel: NO explode, NO shuffle, no wide aggregate.
    * (The explode + 64-column groupBy-min alternative shuffles every
    * (doc, shingle) row and its agg falls out of whole-stage codegen;
    * measured ~5× slower at sf0.1.)
    */
  def signatures(df: DataFrame, id: Column, text: Column,
                 numHashes: Int, shingleN: Int, seed: Long): DataFrame =
    setsAndSignatures(df, id, text, numHashes, shingleN, seed)
      .select(col("__id"), col("sig"))

  /** One-pass (id, sorted hashed shingle set, minhash signature) projection:
    * the text tokenizes once and each shingle hashes once. The signature
    * min-hashes the set itself (`pmod` of each hash) — a min over the
    * distinct values equals the min over the values with duplicates, so it
    * equals the signature of the hashed shingle list. Cache the result when
    * both columns are read by downstream joins ([[nearDuplicates]],
    * [[dropNearSeen]]).
    */
  private def setsAndSignatures(df: DataFrame, id: Column, text: Column,
                                numHashes: Int, shingleN: Int,
                                seed: Long): DataFrame = {
    import org.apache.spark.sql.graftfn.{asColumn, asExpression}
    val params = hashParams(numHashes, seed)
    // SORTED sets: one sort_array per row buys the codegen'd merge-scan
    // intersection (SortedIntersectSize) on every candidate pair
    val set = sort_array(array_distinct(
      transform(wordShingles(text, shingleN), s => xxhash64(s))))
    // The k×n min-loop runs as a native codegen'd expression — one
    // generated Java nest per row. (First attempt was an
    // `aggregate(zip_with(...))` fold: correct and shuffle-free, but every
    // element costs an interpreted lambda dispatch — measured ~2s of pure
    // signature CPU at sf0.1 that the generated loop does in ~50ms.)
    // Two projections: `__set` is read twice below, so Catalyst keeps it
    // computed once rather than inlining the shingle expression twice.
    df.select(id.as("__id"), set.as("__set"))
      .select(col("__id"), col("__set"),
        asColumn(graft.functions.MinHashSignature(
          asExpression(transform(col("__set"), h => pmod(h, lit(P)))),
          params.map(_._1).toArray, params.map(_._2).toArray, P)).as("sig"))
  }

  /** (__id, band, bh) band-bucket keys for a signature frame — the shared
    * front half of the self-join ([[candidatePairs]]) and the cross-frame
    * incremental join ([[dropNearSeen]]).
    */
  private def bandKeys(sigs: DataFrame, bands: Int, numHashes: Int): DataFrame = {
    require(numHashes % bands == 0, s"bands=$bands must divide numHashes=$numHashes")
    val r = numHashes / bands
    val bandStructs = array((0 until bands).map { j =>
      struct(lit(j).as("band"),
        xxhash64(concat_ws("#", (0 until r).map(i => col("sig")(j * r + i)): _*)).as("bh"))
    }: _*)
    sigs.select(col("__id"), explode(bandStructs).as("b"))
      .select(col("__id"), col("b.band").as("band"), col("b.bh").as("bh"))
  }

  /** Degenerate-bucket guard: `keys` without the (band, bh) buckets that
    * hold more than `maxBucket` rows of `census`. A bucket of m docs
    * contributes m(m−1)/2 pairs to a self-join — ONE boilerplate shingle
    * cluster goes quadratic at corpus scale. Dropped buckets follow
    * standard web-dedup practice: their members still meet in any of the
    * other bands-1 bands unless the collision is itself degenerate. The
    * oversized list is tiny (aggregated), so it broadcasts into an anti
    * join — the `keys` rows never reshuffle for the filter.
    */
  private def withoutOversized(keys: DataFrame, census: DataFrame,
                               maxBucket: Int): DataFrame = {
    val oversized = census.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBucket)
      .select(col("band"), col("bh"))
    keys.join(broadcast(oversized), Seq("band", "bh"), "left_anti")
  }

  /** LSH banding: candidate pairs (id_a < id_b) whose signatures collide in
    * at least one of `bands` bands, oversized buckets dropped.
    */
  def candidatePairs(sigs: DataFrame, bands: Int, numHashes: Int,
                     maxBucket: Int = 5000): DataFrame = {
    // Cached: the bucket self-join reads `banded` on BOTH sides — without
    // this the whole signature computation runs twice. The result is lazy,
    // so the cache must outlive it: a looping caller releases it with
    // CacheScope.withScope.
    val banded = CacheScope.cache(bandKeys(sigs, bands, numHashes))
    val kept = withoutOversized(banded, banded, maxBucket)
    kept.alias("x").join(kept.alias("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"))
      .distinct()
  }

  /** Sketch-calibration audit: MinHash-ESTIMATED Jaccard graded against
    * the EXACT token-set Jaccard, rolled up per signature match count —
    * the "is my sketch lying" report to read BEFORE trusting a banding
    * threshold. Each row says: pairs whose signatures agreed in `n_match`
    * of `numHashes` positions (estimate `n_match/numHashes`) actually have
    * exact Jaccard in [min,max] averaging `avg_exact_ppm`. A well-behaved
    * sketch shows the estimate tracking the average within the binomial
    * noise band; a biased row means the hash family or shingle choice is
    * wrong for this corpus.
    *
    * Hashing is the ENGINE-NEUTRAL Horner token hash
    * ([[graft.text.TextAnalysis.tokenHash]], < 10⁹+7 < p, so `h·a+b`
    * never overflows), not xxhash64 — the estimate itself is the audited
    * value here, so the oracle must reproduce the signatures bit-exactly.
    * Probe side broadcasts (audits sample a probe set; the corpus streams
    * through one codegen'd scan — linear per probe, like the exact-Jaccard
    * baseline in [[Jaccard.similarPairs]]); the rollup is
    * (numHashes+1)-row scale.
    */
  def sketchCalibration(probes: DataFrame, corpus: DataFrame, id: Column,
                        text: Column, numHashes: Int,
                        seed: Long): DataFrame = {
    import org.apache.spark.sql.graftfn.{asColumn, asExpression}
    val params = hashParams(numHashes, seed)
    def prep(df: DataFrame, idn: String, setn: String, sign: String) = {
      val hs = array_distinct(transform(split(lower(text), " "),
        t => graft.text.TextAnalysis.tokenHash(t)))
      df.select(id.as(idn), hs.as(setn),
        asColumn(graft.functions.MinHashSignature(asExpression(hs),
          params.map(_._1).toArray, params.map(_._2).toArray, P)).as(sign))
    }
    val inter = size(array_intersect(col("set_a"), col("set_b")))
    val uni = size(col("set_a")) + size(col("set_b")) - inter
    broadcast(prep(probes, "id_a", "set_a", "sig_a"))
      .join(prep(corpus, "id_b", "set_b", "sig_b"),
        col("id_a") =!= col("id_b"))
      .select(
        aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (a, v) => a + v).as("n_match"),
        call_function("div", inter.cast("long") * 1000000L,
          uni.cast("long")).as("__jac_ppm"))
      .groupBy(col("n_match"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("__jac_ppm")).as("__s"),
        min(col("__jac_ppm")).as("min_exact_ppm"),
        max(col("__jac_ppm")).as("max_exact_ppm"))
      .select(col("n_match"),
        call_function("div", col("n_match") * 1000000L,
          lit(numHashes.toLong)).as("est_ppm"),
        col("n_pairs"),
        call_function("div", col("__s"), col("n_pairs"))
          .as("avg_exact_ppm"),
        col("min_exact_ppm"), col("max_exact_ppm"))
  }

  /** End-to-end near-dup detection: LSH candidates verified with the exact
    * shingle-set Jaccard, keeping pairs ≥ threshold.
    */
  def nearDuplicates(df: DataFrame, id: Column, text: Column,
                     threshold: Double, numHashes: Int = 72, bands: Int = 6,
                     shingleN: Int = 1, seed: Long = 42L,
                     maxBucket: Int = 5000): DataFrame = {
    // b=6, r=12: detection prob ≈ 0.996 at jaccard 0.95 but only ≈ 0.35 at
    // 0.8 and ≈ 0.08 at 0.7 — near-full recall at the dedup threshold while
    // keeping template corpora (many mid-similarity pairs) from flooding the
    // candidate join. (b=8/r=8 kept 0.77 of jaccard-0.8 pairs as candidates
    // — measured 4.3M candidate rows at sf0.1 vs ~1.6M with r=12.)
    //
    // Verification runs on HASHED shingle sets (array<long>): exact Jaccard
    // is unchanged (modulo ~2^-64 collisions) but the pair join shuffles
    // 8-byte longs instead of shingle strings and array_intersect compares
    // longs — the dominant cost on corpora with many candidate pairs.
    //
    // No signature-estimate gate between banding and the exact check: with
    // r=12 the surviving bucket collisions are mostly true near-dups, so a
    // minhash-fraction pre-filter would cost two extra joins shipping
    // k-long signatures to prune almost nothing — the exact intersect on
    // the (shorter) shingle sets IS the cheapest verifier.
    //
    // Cached: the prep is read three times (banding, and the verification
    // join on id_a and on id_b) — the corpus tokenizes once.
    val prep = CacheScope.cache(
      setsAndSignatures(df, id, text, numHashes, shingleN, seed))

    candidatePairs(prep, bands, numHashes, maxBucket)
      .join(prep.select(col("__id").as("id_a"), col("__set").as("set_a")), Seq("id_a"))
      .join(prep.select(col("__id").as("id_b"), col("__set").as("set_b")), Seq("id_b"))
      .transform(Jaccard.verified(_, threshold))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Incremental fuzzy ingest dedup — the near-dup companion of
    * [[graft.ops.Dedup.dropAlreadySeen]]'s exact-fingerprint check: drop
    * new-batch documents that near-duplicate the already-ingested HISTORY
    * (Jaccard ≥ threshold), keep everything else. Candidates come from a
    * batch × history band join only — never batch × batch (intra-batch
    * near-dups are [[nearDuplicates]]/Clusters' job) and never
    * history × history (it was deduped when ingested).
    *
    * Scale shape: the history side recomputes signatures here for the
    * self-contained oracle, but at 100 TB its (band, bh) keys are computed
    * once at ingest and stored bucketed by (band, bh) — then each daily
    * batch bands itself (a projection over the small side) and the join
    * probes history's buckets with zero history shuffle, exactly like d8's
    * bucketed fingerprint history. The oversized-bucket cap applies to
    * HISTORY buckets (the side that accretes boilerplate clusters);
    * verification ships hashed shingle sets, codegen merge-scan intersect.
    *
    * Each side tokenizes ONCE: a combined (id, shingle set, signature)
    * frame is cached per side and feeds band keys (census + candidate
    * join) AND the verification join. The result is lazy, so the caches
    * must outlive its materialization; a caller looping ingest gates
    * wraps each invocation in [[CacheScope.withScope]], which releases
    * exactly these caches, or the prep frames accrete in executor storage.
    *
    * Oracle note (d12): the driver gate replays an EXACT Jaccard anti
    * join, while this path is probabilistic — b=6/r=12 detection ≈ 0.996
    * per pair at J=0.95, and the maxBucket cap can drop candidates. The
    * hash-equality gate therefore certifies 100% recall FOR THE CURRENT
    * SYNTHETIC CORPUS, not structurally: regenerated data or changed
    * seeds/params can flake the gate with no code bug (first suspect: a
    * missed LSH pair). A structural band-join replay à la d9 is not
    * expressible in the oracle — DuckDB has no xxhash64 — so this is
    * documented rather than replayed, matching the d2/d6 precedent.
    */
  def dropNearSeen(batch: DataFrame, history: DataFrame, id: Column,
                   text: Column, threshold: Double, numHashes: Int = 72,
                   bands: Int = 6, shingleN: Int = 1, seed: Long = 42L,
                   maxBucket: Int = 5000): DataFrame = {
    // one tokenize pass per side: shingle set + signature in one prep,
    // cached and read by banding AND verification
    val hPrep = CacheScope.cache(
      setsAndSignatures(history, id, text, numHashes, shingleN, seed))
    val bPrep = CacheScope.cache(
      setsAndSignatures(batch, id, text, numHashes, shingleN, seed))
    val bBand = bandKeys(bPrep, bands, numHashes)
      .select(col("__id").as("batch_id"), col("band"), col("bh"))
    val hBand = bandKeys(hPrep, bands, numHashes)
      .select(col("__id").as("hist_id"), col("band"), col("bh"))
    val cand = withoutOversized(bBand, hBand, maxBucket)
      .join(hBand, Seq("band", "bh"))
      .select(col("batch_id"), col("hist_id")).distinct()
    val confirmed = cand
      .join(bPrep.select(col("__id").as("batch_id"), col("__set").as("set_a")),
        Seq("batch_id"))
      .join(hPrep.select(col("__id").as("hist_id"), col("__set").as("set_b")),
        Seq("hist_id"))
      .transform(Jaccard.verified(_, threshold))
      .select(col("batch_id")).distinct()
    val idName = batch.select(id).columns.head
    batch.join(confirmed, col(idName) === col("batch_id"), "left_anti")
  }
}
