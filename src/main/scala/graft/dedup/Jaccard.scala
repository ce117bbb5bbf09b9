package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact n-gram Jaccard similarity — the correctness baseline that
  * [[MinHashLSH]] approximates.
  *
  * All-pairs exact Jaccard is inherently quadratic; this implementation
  * prunes with the two classic EXACT filters (no recall loss; Vernica et
  * al., SIGMOD'10 "Efficient parallel set-similarity joins using MapReduce"):
  *
  *  - size filter: J(A,B) ≥ t ⟹ t·|A| ≤ |B| and t·|B| ≤ |A|;
  *  - prefix filter: order tokens globally by (document frequency, token)
  *    ascending; a pair with J ≥ t must share at least one token among each
  *    side's `|X| − ⌈t·|X|⌉ + 1` rarest tokens. Joining on PREFIX tokens
  *    only keeps the inverted index off the hot head tokens that would
  *    otherwise pair every probe with most of the corpus.
  *
  * Candidates then get one exact verification against the full sets.
  *
  * Both pair functions run the WHOLE pipeline on xxhash64-HASHED shingles
  * (round 11, the d10b lesson measured again at the sf10 rehearsal):
  * tokens become 8-byte longs before the inverted index, the candidate
  * join, and the verification join, so every shuffle ships longs instead
  * of shingle strings (~5–10× fewer bytes — at sf10 the string-set
  * verification join was the spill that drove d15 superlinear). Exactness
  * is unchanged modulo ~2⁻⁶⁴ hash collisions — |A∩B| and set sizes are
  * hash-invariant when the hash is injective on the corpus — the same
  * documented trade [[MinHashLSH.nearDuplicates]] made in round 8. The
  * prefix ORDER tie-break changes (hash order, not lexicographic), which
  * only re-picks among equal-df prefix tokens: the prefix-filter theorem
  * needs any consistent total order, so the verified RESULT set is
  * identical either way.
  */
object Jaccard {

  /** (id, xxhash64-hashed sorted shingle set) — the wire format both pair
    * stages run on. Hash BEFORE sorting so the merge-scan intersect sees
    * long order.
    */
  private def hashedSets(df: DataFrame, idName: String,
                         setName: String): DataFrame =
    df.select(col("__id").as(idName),
      sort_array(transform(col("__set"), t => xxhash64(t))).as(setName))

  /** (id, distinct shingle set) prep. UNSORTED: every consumer is one of
    * the pair functions, which hash to longs and sort in HASH order
    * ([[hashedSets]]) for the codegen'd merge-scan intersection — a string
    * sort here would be O(s log s) string comparisons per document whose
    * result is immediately discarded (r11 review find).
    */
  def shingleSets(df: DataFrame, id: Column, text: Column, n: Int): DataFrame =
    df.select(id.as("__id"),
      array_distinct(MinHashLSH.wordShingles(text, n)).as("__set"))

  /** Exact Jaccard ≥ threshold between `probes` and `corpus` (both outputs
    * of [[shingleSets]]); id_a from probes, id_b from corpus, id_a < id_b.
    */
  def similarPairs(probes: DataFrame, corpus: DataFrame, threshold: Double): DataFrame = {
    // Cache both set frames: each feeds 2-3 consumers (df computation,
    // prefix index, verification join), and Catalyst additionally clones the
    // tokenization expression into generator-inferred `size(set)>0` filters
    // below each consumer — without the cache the corpus gets re-tokenized
    // ~4x. (id, set) only — never the source text.
    val pa = CacheScope.cache(hashedSets(probes, "id_a", "set_a"))
    val pb = CacheScope.cache(hashedSets(corpus, "id_b", "set_b"))

    // Global token order: corpus document frequency, token as tiebreaker.
    // Tokens unseen in the corpus sort rarest (df 0) — order only has to be
    // total and consistent across both sides.
    val tokenDf = pb.select(explode(col("set_b")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))

    def prefixIndex(df: DataFrame, idCol: String, setCol: String): DataFrame = {
      val w = Window.partitionBy(col(idCol)).orderBy(col("df"), col("tok"))
      df.select(col(idCol), size(col(setCol)).as(s"n_$idCol"),
          explode(col(setCol)).as("tok"))
        .join(tokenDf, Seq("tok"), "left")
        .na.fill(0L, Seq("df"))
        .withColumn("__rn", row_number().over(w))
        // ε inside ceil: 20 × 0.9 = 18.000000000000004 in binary FP, and a
        // ceil of that would shorten the prefix by one → false negatives
        .filter(col("__rn") <=
          col(s"n_$idCol") - ceil(col(s"n_$idCol") * threshold - lit(1e-9)) + 1)
        .select(col(idCol), col(s"n_$idCol"), col("tok"))
    }

    val ia = prefixIndex(pa, "id_a", "set_a")
    val ib = prefixIndex(pb, "id_b", "set_b")

    val candidates = ia.join(ib,
        ia("tok") === ib("tok") && col("id_a") < col("id_b") &&
          col("n_id_b") >= col("n_id_a") * threshold - lit(1e-9) &&
          col("n_id_a") >= col("n_id_b") * threshold - lit(1e-9))
      .select("id_a", "id_b").distinct()

    candidates
      .join(pa, Seq("id_a"))
      .join(pb, Seq("id_b"))
      .transform(verified(_, threshold))
      .select("id_a", "id_b", "jaccard")
  }

  /** The exact-Jaccard acceptance rule of every near-dup path
    * ([[similarPairs]], [[MinHashLSH.nearDuplicates]],
    * [[MinHashLSH.dropNearSeen]]): `pairs` carries long-hashed sorted sets
    * `set_a`/`set_b`; adds `shared` = |A∩B| and `jaccard` = |A∩B| / |A∪B|
    * rounded to 6 digits, and keeps the rows with `jaccard >= threshold`.
    *
    * |A∪B| = |A|+|B|−|A∩B|: one merge-scan intersect per pair, zero
    * allocation (array_intersect builds a hash set + result array per PAIR
    * — the dominant cost with millions of candidates). The ratio is
    * rounded BEFORE the comparison, exactly like the DuckDB oracles, so a
    * pair at threshold−ε falls the same way in both engines.
    *
    * The intersect runs once per pair. As a plain column, Catalyst would
    * push the filter into the pair join's condition with `shared` inlined
    * (twice: numerator and union) and compute it a third time above the
    * join. A generator's output is not inlined, so `shared` comes out of
    * a one-element `explode` and the filter reads it.
    */
  private[graft] def verified(pairs: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.graftfn.{asColumn, asExpression}
    pairs
      .withColumn("shared", explode(array(asColumn(graft.functions.SortedIntersectSize(
        asExpression(col("set_a")), asExpression(col("set_b")))))))
      .withColumn("jaccard",
        round(col("shared").cast("double") /
          (size(col("set_a")) + size(col("set_b")) - col("shared")), 6))
      .filter(col("jaccard") >= threshold)
  }

  /** ASYMMETRIC containment pairs: `C(A,B) = |A∩B| / |A| ≥ threshold` —
    * probe docs CONTAINED in a corpus doc. The dup mode Jaccard
    * structurally misses: a paragraph fully embedded in a much larger
    * page has C ≈ 1 but J ≈ |A|/|B| ≈ 0, so no symmetric threshold
    * catches it (quote farms, scraped aggregators, boilerplate wrappers).
    *
    * Same exact prefix-filter machinery as [[similarPairs]], adapted to
    * the asymmetry: the probe side keeps only its |A| − ⌈t·|A|⌉ + 1
    * rarest tokens (if ALL of them miss B, fewer than t·|A| tokens can
    * match — exact, no recall loss), the corpus side is a full inverted
    * index (the search-index shape — each corpus token indexed once),
    * and the only size filter is the one containment admits:
    * |B| ≥ t·|A|. Candidates verify with the merge-scan intersect.
    */
  /** @param broadcastProbes hint that the PROBE side is a bounded panel
    *        (the s29 rule: probe panels don't grow with the corpus) whose
    *        hashed sets fit a broadcast. The verify join then attaches
    *        `set_a` via a broadcast hash join instead of a second
    *        sort-merge join — the r12 sf10 instrumentation showed that
    *        second SMJ sorting the (pair × set_b) intermediate (~13 GB,
    *        the tier's entire spill); with the broadcast, only the two
    *        LINEAR sides (candidate ids, corpus sets) ever sort and the
    *        joined rows stream straight into the merge-scan intersect.
    */
  def containmentPairs(probes: DataFrame, corpus: DataFrame,
                       threshold: Double,
                       broadcastProbes: Boolean = false): DataFrame = {
    val pa = CacheScope.cache(hashedSets(probes, "id_a", "set_a"))
    val pb = CacheScope.cache(hashedSets(corpus, "id_b", "set_b"))
    verifyContainment(
      containmentCandidates(pa, pb, threshold).distinct(), pa, pb,
      threshold, broadcastProbes)
  }

  /** The candidate stage of [[containmentPairs]]: probe prefix index ×
    * corpus full inverted index, with BOTH exact pre-verification filters:
    *
    *  - size: |B| ≥ t·|A| (the only size bound containment admits);
    *  - positional (Xiao et al., VLDB'08 PPJoin — round 12, the measured
    *    d15 superlinear-wall fix): both indexes carry each token's RANK in
    *    the shared (df, token) order, and a match at probe position i /
    *    corpus position j can only witness a qualifying pair if
    *    `1 + min(n_a − i, n_b − j) ≥ ⌈t·n_a⌉` — at the pair's FIRST shared
    *    token every one of the ≥ ⌈t·n_a⌉ − 1 remaining shared tokens lies
    *    in both suffixes, so the first match always passes and the pair is
    *    never lost (exact, like the prefix filter); matches on a document's
    *    common TAIL tokens — precisely the high-df explosion rows — fail it
    *    and never reach the candidate shuffle. At the sf10 rehearsal the
    *    candidate volume, not the verify, was the RAM/spill cliff: this
    *    prunes it inside the join, before any exchange.
    *
    * Emits possibly-duplicated (id_a, id_b) match rows — callers dedup
    * (`.distinct()` inline, or per-job in [[containmentPairsBounded]]).
    */
  /** Positional inverted index: (id, n, pos, tok) with `pos` = the
    * token's 1-based rank in the document's (df, tok)-ascending order —
    * the shared total order both the prefix and the positional filters
    * ride. Built with groupBy + per-document `array_sort` + `posexplode`
    * rather than a `row_number` window: the window's exchange-then-SORT
    * globally sorts the whole exploded token table (measured at sf10:
    * 200M rows, ~8 GB of sort spill — the tier's dominant cost), while
    * the hash aggregation never global-sorts — per-document arrays
    * (tens of entries) sort in cache. Identical output: tok values are
    * distinct within a document, so (df, tok) is a strict total order
    * either way.
    */
  private def positionalIndex(p: DataFrame, idName: String, setName: String,
      tokenDf: DataFrame, nName: String, posName: String,
      prefixThreshold: Option[Double]): DataFrame = {
    val sorted = p.select(col(idName), size(col(setName)).as(nName),
        explode(col(setName)).as("tok"))
      .join(tokenDf, Seq("tok"), "left")
      .na.fill(0L, Seq("df"))
      .groupBy(col(idName), col(nName))
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("__st"))
      .select(col(idName), col(nName),
        posexplode(col("__st")).as(Seq("__p0", "__s")))
      .select(col(idName), col(nName), (col("__p0") + 1).as(posName),
        col("__s.tok").as("tok"))
    prefixThreshold.fold(sorted)(t => sorted.filter(col(posName) <=
      col(nName) - ceil(col(nName) * t - lit(1e-9)) + 1))
  }

  private def containmentCandidates(pa: DataFrame, pb: DataFrame,
                                    threshold: Double, tokenBatches: Int = 1,
                                    batch: Int = 0): DataFrame = {
    val tokenDf = pb.select(explode(col("set_b")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
    // token-range restriction for the batched path: AFTER ranking (ranks
    // must be global for the prefix + positional bounds to stay exact),
    // BEFORE the join (so only this range's index rows are in flight)
    def inBatch(df: DataFrame): DataFrame =
      if (tokenBatches <= 1) df
      else df.filter(pmod(col("tok"), lit(tokenBatches)) === lit(batch))

    val ia = inBatch(positionalIndex(pa, "id_a", "set_a", tokenDf,
      "n_a", "__pa", Some(threshold)))
    val ib = inBatch(positionalIndex(pb, "id_b", "set_b", tokenDf,
      "n_b", "__pb", None))

    ia.join(ib,
        ia("tok") === ib("tok") && col("id_a") =!= col("id_b") &&
          col("n_b") >= col("n_a") * threshold - lit(1e-9) &&
          lit(1) + least(col("n_a") - col("__pa"), col("n_b") - col("__pb"))
            >= ceil(col("n_a") * threshold - lit(1e-9)))
      .select("id_a", "id_b")
  }

  /** The verification stage of [[containmentPairs]]: merge-scan intersect
    * against the full hashed sets, exact containment, threshold cut.
    */
  private def verifyContainment(candidates: DataFrame, pa: DataFrame,
                                pb: DataFrame, threshold: Double,
                                broadcastProbes: Boolean = false): DataFrame = {
    import org.apache.spark.sql.graftfn.{asColumn, asExpression}
    // corpus side FIRST (its sort payload is linear: one set per corpus
    // doc, never per pair); the probe side attaches second — broadcast
    // when the caller vouches the panel is bounded, so the pair-scale
    // intermediate is never sorted with a set column aboard
    candidates
      .join(pb, Seq("id_b"))
      .join(if (broadcastProbes) broadcast(pa) else pa, Seq("id_a"))
      .withColumn("shared", asColumn(graft.functions.SortedIntersectSize(
        asExpression(col("set_a")), asExpression(col("set_b")))))
      .withColumn("containment",
        round(col("shared").cast("double") / size(col("set_a")), 6))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")
  }

  /** [[containmentPairs]] with the candidate stage BATCHED by token range —
    * the round-12 scale posture for the measured sf10 RAM cliff: instead
    * of one job whose in-flight candidate set grows with the corpus, the
    * prefix-token space splits into `tokenBatches` hash ranges, both ranked
    * indexes land under `workDir` partitioned by range, and the candidate
    * join runs as sequential actions over groups of ranges, each landing
    * its deduped candidate pairs on disk before the next starts.
    *
    * JOB SIZING is derived from measured input size (optimization guide
    * §2), not assumed: each range's candidate weight `Σ_tok na·nb` is read
    * from the just-written indexes (one token-df-scale aggregate,
    * `tokenBatches` rows collected — control flow). Consecutive ranges
    * pack into one job while the job's weight stays ≤ `maxPairsPerJob`; a
    * range with no candidates is skipped outright. `tokenBatches` only sets
    * the GRAIN of the on-disk range partitioning; the number of sequential
    * candidate jobs follows the data — a small input runs one job, a
    * 100 TB input ceil(W / maxPairsPerJob) jobs.
    *
    * HOT-RANGE GUARD: ranges hash-balance the candidate volume only when
    * no single token dominates; one hot token (a universal boilerplate
    * shingle) lands ALL of its `na·nb` pairs in whichever range its hash
    * picks. A range whose own weight exceeds `maxPairsPerJob` runs as
    * `ceil(w / maxPairsPerJob)` sequential sub-jobs sliced by PROBE-ID hash
    * — slicing the probe side splits even a single token's pair block,
    * which re-hashing tokens cannot.
    *
    * Exactness: a qualifying pair's first shared prefix token lands in
    * exactly one range and survives the positional filter there; a job is
    * a union of whole ranges, and sub-jobs partition a range's `id_a`
    * space, so the union of all jobs contains every qualifying pair. A
    * pair whose prefix tokens span several ranges appears redundantly
    * (identical rows — the final read dedups). Verification runs once over
    * the deduped candidate union; the hashed-set frames are cached once.
    * PropertySpec pins equality with [[containmentPairs]].
    *
    * @param maxPairsPerJob in-flight candidate-pair budget per sequential
    *        job — the executor-memory knob. Default: no bound (every live
    *        range in one job).
    * @return the verified pairs; callers own `workDir`'s lifecycle.
    */
  def containmentPairsBounded(probes: DataFrame, corpus: DataFrame,
                              threshold: Double, tokenBatches: Int,
                              workDir: String,
                              broadcastProbes: Boolean = false,
                              maxPairsPerJob: Long = Long.MaxValue): DataFrame = {
    require(tokenBatches >= 1, "tokenBatches must be >= 1")
    require(maxPairsPerJob >= 1, "maxPairsPerJob must be >= 1")
    val spark = probes.sparkSession
    val pa = CacheScope.cache(hashedSets(probes, "id_a", "set_a"))
    val pb = CacheScope.cache(hashedSets(corpus, "id_b", "set_b"))
    // RANK ONCE, ITERATE OFF STORAGE: the df-join + per-document position
    // aggregation is the index build's linear one-time cost — recomputing
    // it per batch would multiply exactly the stage batching exists to
    // relieve. Both ranked indexes land partitioned by token range, so
    // each batch's job reads ONLY its range's directories
    // (PartitionFilters — the stored-IVF-postings posture).
    val tokenDf = pb.select(explode(col("set_b")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val iaPath = s"$workDir/ia"
    val ibPath = s"$workDir/ib"
    // REBALANCE by range before the partitioned write (guide §6): without
    // it every writer task lands a file per range it sees (tasks × ranges
    // tiny files); with it each range's index is a few contiguous files —
    // and every candidate job below then reads large files from exactly
    // its ranges' directories. AQE splits an oversized range across tasks.
    positionalIndex(pa, "id_a", "set_a", tokenDf, "n_a", "__pa",
        Some(threshold))
      .withColumn("__tb", pmod(col("tok"), lit(tokenBatches)))
      .hint("rebalance", col("__tb"))
      .write.mode("overwrite").partitionBy("__tb").parquet(iaPath)
    positionalIndex(pb, "id_b", "set_b", tokenDf, "n_b", "__pb", None)
      .withColumn("__tb", pmod(col("tok"), lit(tokenBatches)))
      .hint("rebalance", col("__tb"))
      .write.mode("overwrite").partitionBy("__tb").parquet(ibPath)
    val candPath = s"$workDir/cand"
    // schema-supplied re-reads: the indexes were just written, their schema
    // is known — skip per-job inference and hoist the relation
    val iaFull = spark.read.parquet(iaPath)
    val ibFull = spark.read.parquet(ibPath)
    // per-range candidate weight Σ_tok na·nb, read from the just-written
    // ranked indexes (tokenBatches rows — control flow): feeds both the
    // job packing and the hot-range guard
    val weights: Map[Int, Long] = {
      val na = iaFull.groupBy("__tb", "tok").agg(count(lit(1)).as("na"))
      val nb = ibFull.groupBy("__tb", "tok").agg(count(lit(1)).as("nb"))
      na.join(nb, Seq("__tb", "tok"))
        .groupBy("__tb").agg(sum(col("na") * col("nb")).as("w"))
        .collect()
        .map(r => r.getAs[Number](0).intValue() -> r.getLong(1))
        .toMap
    }
    val subJobs: Map[Int, Int] =
      if (maxPairsPerJob == Long.MaxValue) Map.empty
      else weights.map { case (b, w) =>
        b -> math.max(1L, (w + maxPairsPerJob - 1) / maxPairsPerJob).toInt
      }
    // job list: each entry is the set of token ranges one sequential
    // action covers — greedy packing of consecutive ranges up to
    // maxPairsPerJob; zero-weight ranges (no token shared between probe
    // and corpus side) drop out, their candidate join is provably empty
    val jobGroups: Seq[Seq[Int]] = {
      val live = (0 until tokenBatches).filter(b => weights.getOrElse(b, 0L) > 0L)
      val groups = scala.collection.mutable.ArrayBuffer[Vector[Int]]()
      var cur = Vector.empty[Int]
      var curW = 0L
      live.foreach { b =>
        val w = weights(b)
        if (cur.nonEmpty && curW + w > maxPairsPerJob) {
          groups += cur; cur = Vector(b); curW = w
        } else { cur = cur :+ b; curW += w }
      }
      if (cur.nonEmpty) groups += cur
      groups.toSeq
    }
    var wrote = false
    jobGroups.foreach { group =>
      // one SEQUENTIAL action per job: the write is the action, so this
      // job's candidate shuffle is fully drained (and its shuffle files
      // GC-able) before the next starts — peak in-flight state is one
      // job's bounded weight, never the corpus's. Jobs land CANDIDATE
      // PAIRS (two longs) only; verification runs ONCE over the globally-
      // deduped union — an early d15b shape verified per batch and
      // re-shuffled the full corpus SET column tokenBatches times
      // (measured at sf10: 70 GB of spill, 1.5× the inline wall). The
      // candidate stage is the thing the r11 decade measured as the RAM
      // cliff; the single verify join is candidate-scale and was fine.
      val nSub =
        if (group.size == 1) subJobs.getOrElse(group.head, 1) else 1
      (0 until nSub).foreach { j =>
        val iaAll =
          if (group.size == 1) iaFull.filter(col("__tb") === group.head)
          else iaFull.filter(col("__tb").isin(group.map(Integer.valueOf): _*))
        // hash, not modulo: id_a may be any type, and sequential ids
        // modulo nSub would correlate with data order
        val ia = if (nSub == 1) iaAll
                 else iaAll.filter(pmod(xxhash64(col("id_a")), lit(nSub)) === j)
        val ib =
          if (group.size == 1) ibFull.filter(col("__tb") === group.head)
          else ibFull.filter(col("__tb").isin(group.map(Integer.valueOf): _*))
        ia.join(ib,
            ia("tok") === ib("tok") && col("id_a") =!= col("id_b") &&
              col("n_b") >= col("n_a") * threshold - lit(1e-9) &&
              lit(1) + least(col("n_a") - col("__pa"),
                col("n_b") - col("__pb"))
                >= ceil(col("n_a") * threshold - lit(1e-9)))
          .select("id_a", "id_b").distinct()
          .write.mode(if (wrote) "append" else "overwrite").parquet(candPath)
        wrote = true
      }
    }
    // every live range may have dropped out (no shared tokens at all):
    // the result is exactly empty — land an empty frame so the read-back
    // below has a schema to parse
    if (!wrote)
      iaFull.select("id_a").limit(0)
        .crossJoin(ibFull.select("id_b").limit(0))
        .write.mode("overwrite").parquet(candPath)
    verifyContainment(spark.read.parquet(candPath).distinct(),
      pa, pb, threshold, broadcastProbes)
  }

  /** Threshold-sensitivity audit: cumulative pair counts at each candidate
    * threshold from ONE scoring pass — the "where do I set the dedup bar"
    * report (run [[similarPairs]] once at the lowest threshold under
    * consideration, read off every stricter setting for free, instead of
    * re-scoring the corpus per candidate value).
    *
    * Scale shape: scores quantize to integer ppm, bucket into the
    * threshold grid (one pass over the PAIR table, no replication), and
    * the descending cumulative sum runs over the |thresholds|-row rollup —
    * the only window in the plan is grid-sized. `thresholds` must be an
    * ascending uniform permille grid (start/step derived from it).
    */
  def thresholdSweep(scored: DataFrame, scoreCol: String,
                     thresholds: Seq[Int]): DataFrame = {
    require(thresholds.size >= 2 && thresholds == thresholds.sorted &&
      thresholds.distinct == thresholds, "need an ascending threshold grid")
    val step = thresholds(1) - thresholds.head
    require(thresholds.sliding(2).forall(p => p(1) - p(0) == step),
      "threshold grid must be uniform")
    val lo = thresholds.head * 1000L
    val stepPpm = step * 1000L
    val nB = thresholds.size
    val bucketed = scored
      .select(expr(s"CAST(round($scoreCol * 1000000) AS BIGINT)").as("__ppm"))
      // filter BEFORE the div: truncating DIV sends (lo-1..lo-step] to
      // bucket 0, not -1, so a below-grid score would miscount
      .filter(col("__ppm") >= lo)
      .select(least(lit(nB - 1),
        expr(s"(__ppm - $lo) DIV $stepPpm")).cast("int").as("__b"))
      .groupBy("__b").agg(count(lit(1)).as("__n"))
    val grid = scored.sparkSession
      .range(nB).select(col("id").cast("int").as("__b"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__b").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    grid.join(bucketed, Seq("__b"), "left")
      .withColumn("__cum", sum(coalesce(col("__n"), lit(0L))).over(w))
      .select((col("__b") * step + thresholds.head).as("threshold_permille"),
        col("__cum").as("n_pairs"))
  }
}
