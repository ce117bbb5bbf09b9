package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftfn.{asColumn, asExpression}

import graft.functions.ArrayCosine

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths, as a production ANN stack needs both:
  *  - [[bruteForceTopK]] — exact, O(|queries| × |corpus|). Fine when the
  *    probe set is small (it usually is); the corpus side streams, nothing
  *    quadratic is materialized beyond the top-k windows.
  *  - [[lshTopK]] — random-hyperplane LSH: corpus and queries bucket by
  *    sign-bit code; only same-bucket pairs are scored. Sub-linear work at
  *    the cost of recall; multiple code rotations (`tables`) trade compute
  *    back for recall.
  *
  * All math is double-precision array HOFs (zip_with/aggregate) — built-in
  * expressions, no UDF. Embeddings are unit-normalized ONCE per row up
  * front, so each scored pair costs a single dot product instead of
  * dot + two norms (3× fewer array traversals on the quadratic path —
  * that's where all the time goes).
  */
object Similarity {

  /** Unit-normalized double copy of an embedding column. The norm is
    * injected via `array_repeat`, which evaluates it once per row — putting
    * it inside the division lambda instead would re-aggregate the squares
    * per element after CollapseProject inlines the alias.
    */
  def unitNorm(emb: Column): Column = {
    val d = transform(emb, x => x.cast("double"))
    val norm = sqrt(aggregate(transform(d, x => x * x), lit(0.0), _ + _))
    zip_with(d, array_repeat(norm, size(d)), (x, n) => x / n)
  }

  /** Dot product of two unit vectors = cosine similarity (HOF form, kept
    * for composability; the batch paths use [[cosine]] instead).
    */
  def dotUnit(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)

  /** Cosine similarity via the native codegen'd [[ArrayCosine]] expression:
    * one fused loop per pair, no intermediate arrays. Pass `array<double>`
    * inputs on hot paths (cast float embeddings once per ROW before a pair
    * join — the implicit cast would otherwise run per PAIR).
    */
  def cosine(a: Column, b: Column): Column =
    asColumn(ArrayCosine(asExpression(a), asExpression(b)))

  /** Float embedding pre-cast for pair joins. */
  private def asDouble(emb: Column): Column = emb.cast("array<double>")

  /** Exact top-k neighbors per query (self-match excluded), deterministic:
    * ties broken by corpus id ascending. Broadcast the probe side when it's
    * small — the corpus then streams through a single map stage.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     broadcastQueries: Boolean = true): DataFrame = {
    val qn = queries.select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("q_u"))
    val q = if (broadcastQueries) broadcast(qn) else qn
    val c = corpus.select(col("vec_id").as("neighbor_id"), asDouble(col("embedding")).as("c_u"))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(cosine(col("q_u"), col("c_u")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"),
        col("__rn").as("rank"))
  }

  /** Hard-negative mining for contrastive training: for every query
    * vector, the top-k most-similar corpus vectors with a DIFFERENT
    * label — maximally confusing non-matches, the pairs that actually
    * move an embedding model (random negatives are trivially separable).
    *
    * Exact baseline shape = [[bruteForceTopK]]: the query batch
    * broadcasts (training batches are small by construction), the corpus
    * streams through one codegen'd cosine loop, ranking ends in
    * per-query `row_number ≤ k` (TakeOrdered per key, no global sort).
    * The label inequality rides the broadcast join condition, so
    * same-label pairs are never scored at all. At 100 TB corpus scale,
    * swap the scan for the IVF stored index ([[graft.sim.Ivf]]):
    * probe nearest cells, filter `label ≠`, score only the probed
    * bucket — same emission schema, so the swap is invisible downstream.
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int,
                    broadcastQueries: Boolean = true): DataFrame = {
    val qn = queries.select(col("vec_id").as("query_id"),
      col("label").as("q_label"), asDouble(col("embedding")).as("q_u"))
    val q = if (broadcastQueries) broadcast(qn) else qn
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      col("label").as("neighbor_label"), asDouble(col("embedding")).as("c_u"))
    val scored = c.join(q, col("q_label") =!= col("neighbor_label"))
      .withColumn("cosine", round(cosine(col("q_u"), col("c_u")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("neighbor_label"),
        col("cosine"), col("__rn").as("rank"))
  }

  /** Stage 2 of the standard retrieval cascade: re-rank a RECALL
    * candidate set (BM25, LSH buckets, anything cheap) by exact cosine
    * against one query vector. The candidate frame BROADCASTS (it is
    * top-k-sized by construction), the corpus embedding table is probed
    * by the hash join — embeddings are fetched for candidates only,
    * never scanned corpus-wide. Ranking is a window over the candidate
    * set (≤ |candidates| rows — candidate-scale by definition, so the
    * single-partition sort is deliberate and harmless).
    *
    * Keeps every candidate column (upstream ranks ride along for rank-
    * correlation analysis) and appends `cosine` + `rerank`.
    */
  def rerankByCosine(candidates: DataFrame, idCol: String,
                     corpus: DataFrame, query: DataFrame,
                     k: Int): DataFrame = {
    val carried = candidates.columns.map(col).toSeq
    val q = broadcast(query.select(asDouble(col("embedding")).as("__qv")))
    val w = Window.orderBy(col("cosine").desc, col(idCol).asc)
    broadcast(candidates)
      .join(corpus, col(idCol) === col("vec_id"))
      .crossJoin(q)
      .withColumn("cosine",
        round(cosine(asDouble(col("embedding")), col("__qv")), 6))
      .select(carried :+ col("cosine"): _*)
      .withColumn("rerank", row_number().over(w))
      .filter(col("rerank") <= k)
  }

  /** ANN index-quality evaluation: recall@k of an approximate ranking
    * against the exact one, per query, in integer ppm — the number that
    * decides whether an LSH/IVF parameterization is shippable. Takes any
    * two `(query_id, neighbor_id, …)` rankings (the engine's own s1/s2/s3
    * outputs compose directly), LEFT-joins exact→approx on the pair, and
    * rolls up hits. Both sides are top-k-sized; the join is trivially
    * partitioned by query.
    */
  /** Matryoshka truncation: keep the first `d` dimensions of the
    * embedding column. MRL-trained models (Kusupati et al. 2022) pack
    * coarse-to-fine structure into the prefix, so truncated vectors
    * remain usable for retrieval at a fraction of the storage/compute —
    * the standard cheap-recall tier ahead of a full-dimension re-rank.
    * Cosine renormalizes internally, so no renorm step is needed; grade
    * the quality loss with [[recallAtK]] (truncated ranking vs full).
    */
  def matryoshka(emb: DataFrame, d: Int): DataFrame = {
    require(d >= 1, s"d must be >= 1, got $d")
    emb.withColumn("embedding", slice(col("embedding"), 1, d))
  }

  /** Embedding-space drift between groups: pairwise cosine of the
    * per-group CENTROIDS — the "did the distribution shift between
    * snapshots/sources" probe a production embedding pipeline runs
    * before trusting cross-snapshot ANN indexes or thresholds.
    *
    * Exactness: a float centroid (mean of doubles) is partial-order-
    * dependent — unshippable under an exact-hash contract. Dimensions
    * quantize to micro-units FIRST (`round(x·10⁶)`, exact int64 sums,
    * map-side combined), the centroid is the integer `sum DIV n` per
    * dimension, and only then does one cosine per GROUP PAIR (a
    * groups²-scale computation, not data-scale) run in doubles —
    * through the same [[cosine]]/`list_cosine_similarity` equivalence
    * the whole ANN family's oracles already certify, rounded 6dp.
    *
    * Plan: dims explode map-side (×dim rows, partial-aggregated on
    * (group, dim) before the one shuffle); centroids reassemble via
    * sorted collect (dim-bounded arrays); the pair stage is a
    * broadcast self-join of the GROUPS-scale centroid table.
    */
  /** Embedding-dimension health report — the dead/degenerate-dimension
    * detector run before trusting any ANN index: per dimension, count,
    * integer-micro mean, an integer variance proxy, min/max micro, and
    * the ppm of exact zeros (a dimension that is ~always 0 wastes index
    * bits; one with near-zero variance adds no recall).
    *
    * Integerization: each float quantizes to micro-units exactly
    * (float·10⁶ fits a double's mantissa, never a .5 boundary — the
    * s19 argument), then `mean_micro = Σx DIV n` and
    * `var_micro2 = (Σx² − (Σx)² DIV n) DIV n` are nested exact integer
    * divisions — engine-identical, monotone in the true variance. Σx²
    * terms are ≤ ~10¹² each, so BIGINT holds to ~10⁶ rows/dim; the
    * DECIMAL(38) upgrade is one cast when a corpus outgrows that.
    *
    * Plan: dims explode map-side and partial-aggregate on the dim key
    * BEFORE the one shuffle; the result is dim-scale (64 rows).
    */
  def dimStats(df: DataFrame, embedding: Column): DataFrame = {
    val micro = expr("CAST(round(CAST(__x AS DOUBLE) * 1000000) AS BIGINT)")
    df.select(posexplode(embedding).as(Seq("dim", "__x")))
      .select(col("dim").cast("long").as("dim"), micro.as("__m"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum("__m").as("__s"),
        sum(col("__m") * col("__m")).as("__s2"),
        min("__m").as("min_micro"),
        max("__m").as("max_micro"),
        sum(when(col("__m") === 0, 1L).otherwise(0L)).as("__z"))
      .select(col("dim"), col("n"),
        call_function("div", col("__s"), col("n")).as("mean_micro"),
        call_function("div",
          col("__s2") - call_function("div", col("__s") * col("__s"),
            col("n")), col("n")).as("var_micro2"),
        col("min_micro"), col("max_micro"),
        call_function("div", col("__z") * 1000000L, col("n"))
          .as("zero_ppm"))
  }

  def centroidDrift(df: DataFrame, group: Column,
                    embedding: Column): DataFrame = {
    val gName = df.select(group).columns.head
    val cent = df
      .select(group, posexplode(embedding).as(Seq("__d", "__x")))
      .groupBy(col(gName), col("__d"))
      // float→double is exact; float·10⁶ fits double's mantissa exactly
      // and can never be a .5 boundary (5⁶ in the denominator), so the
      // round is engine-deterministic
      .agg(sum(expr("CAST(round(CAST(__x AS DOUBLE) * 1000000) AS BIGINT)"))
          .as("__s"),
        count(lit(1)).as("__n"))
      .groupBy(col(gName))
      .agg(sort_array(collect_list(struct(col("__d"),
        call_function("div", col("__s"), col("__n")).as("__c"))))
        .as("__cs"))
      .select(col(gName),
        expr("transform(__cs, s -> CAST(s.__c AS DOUBLE))").as("__cen"))
    val a = cent.select(col(gName).as("group_a"), col("__cen").as("__ca"))
    val b = cent.select(col(gName).as("group_b"), col("__cen").as("__cb"))
    a.join(broadcast(b), col("group_a") < col("group_b"))
      .select(col("group_a"), col("group_b"),
        round(cosine(col("__ca"), col("__cb")), 6).as("centroid_cosine"))
  }

  def recallAtK(exact: DataFrame, approx: DataFrame): DataFrame = {
    exact.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id"),
        lit(1L).as("__hit")), Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum("__hit"), lit(0L)).as("n_hit"))
      .select(col("query_id"), col("n_exact"), col("n_hit"),
        call_function("div", col("n_hit") * 1000000L, col("n_exact"))
          .as("recall_ppm"))
  }

  /** Recall@k CURVE — [[recallAtK]] swept over rank depths in one pass:
    * given an exact and an approximate ranking (both `(query_id,
    * neighbor_id, rank)`, rank 1-based, computed to depth ≥ max(ks)),
    * the micro-averaged recall at each k in `ks`. Answers "the index is
    * fine at top-1 but loses the tail" without re-running the index per
    * depth: a (q, n) pair counts as a hit at level k iff BOTH ranks are
    * ≤ k, so one join + one literal-array explode covers every level
    * (rank-scale rows, never the corpus). Denominators come from the
    * exact side alone — queries with fewer than k true neighbors
    * contribute what they have.
    */
  def recallCurve(exact: DataFrame, approx: DataFrame,
                  ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1))
    val ksLit = array(ks.map(lit(_)): _*)
    val den = exact
      .select(explode(filter(ksLit, k => k >= col("rank"))).as("k_at"))
      .groupBy("k_at").agg(count(lit(1)).as("n_exact"))
    val hits = exact.select(col("query_id"), col("neighbor_id"),
        col("rank").as("__ex"))
      .join(approx.select(col("query_id"), col("neighbor_id"),
        col("rank").as("__ap")), Seq("query_id", "neighbor_id"))
      .select(explode(filter(ksLit,
        k => k >= greatest(col("__ex"), col("__ap")))).as("k_at"))
      .groupBy("k_at").agg(count(lit(1)).as("n_hits"))
    den.join(hits, Seq("k_at"), "left")
      .select(col("k_at"), col("n_exact"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        call_function("div",
          coalesce(col("n_hits"), lit(0L)) * 1000000L, col("n_exact"))
          .as("recall_ppm"))
  }

  /** Index shadow test — the migration gate between two ANN configs: per
    * probe query, how many of config A's top-k ids config B also returns,
    * histogrammed over the overlap count (share in exact ppm of the probe
    * set). Run it before swapping an index: a mass at k means the swap is
    * invisible to users; mass at 0 means the two indexes disagree about
    * the space itself. Queries with zero overlap are KEPT (left join from
    * the probe list) — they are the interesting rows. Rank-scale joins
    * only; the probe total rides a broadcast one-row frame.
    */
  def indexShadow(a: DataFrame, b: DataFrame,
                  queries: DataFrame): DataFrame = {
    val common = a.select(col("query_id"), col("neighbor_id"))
      .join(b.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("__c"))
    val tot = broadcast(queries.agg(count(lit(1)).as("__nq")))
    queries.join(common, Seq("query_id"), "left")
      .select(coalesce(col("__c"), lit(0L)).as("n_common"))
      .groupBy(col("n_common")).agg(count(lit(1)).as("n_queries"))
      .crossJoin(tot)
      .select(col("n_common"), col("n_queries"),
        call_function("div", col("n_queries") * 1000000L, col("__nq"))
          .as("share_ppm"))
  }

  /** Random-hyperplane LSH code: `planes` sign bits packed into a long.
    * Sign bits are scale-invariant, so unit vectors give the same code as
    * raw embeddings.
    */
  def lshCode(emb: Column, planes: Seq[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      // native fold (guide §4): bit-identical to
      // aggregate(zip_with(emb, plane, _ * _), 0.0, _ + _)
      val dot = asColumn(graft.functions.ArrayDot(
        asExpression(emb), asExpression(typedLit(p.toSeq))))
      when(dot >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)

  /** Deterministic hyperplane set (seeded gaussian). */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Approximate top-k: only candidates sharing a bucket in at least one of
    * `tables` independent codes are scored. Recall grows with tables;
    * per-table bucket size shrinks with nPlanes.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nPlanes: Int = 4, tables: Int = 8, dim: Int = 64,
              seed: Long = 42L): DataFrame = {
    // Few planes + many tables favors recall when true neighbors are only
    // weakly similar (cosine ~0.4): P(candidate) ≈ 1-(1-p^4)^8 with
    // p = 1-θ/π. More planes would shrink buckets but miss those neighbors.
    val codes = (0 until tables).map { t =>
      (t, hyperplanes(nPlanes, dim, seed + t))
    }
    val qUnit = queries.select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("q_u"))
    val cUnit = corpus.select(col("vec_id").as("neighbor_id"), asDouble(col("embedding")).as("c_u"))
    // Bucket index carries (id, table, code) ONLY, computed from the RAW
    // stored column (sign bits are scale-invariant) — embeddings rejoin
    // after the candidate ids are deduped, so neither the multi-table
    // explode nor the distinct ever touches a 64-double array.
    def bucketIndex(df: DataFrame, idName: String): DataFrame = {
      val emb = transform(col("embedding"), x => x.cast("double"))
      val codeStructs = array(codes.map { case (t, planes) =>
        struct(lit(t).as("tbl"), lshCode(emb, planes).as("code"))
      }: _*)
      df.select(col("vec_id").as(idName), explode(codeStructs).as("bc"))
        .select(col(idName), col("bc.tbl").as("tbl"), col("bc.code").as("code"))
    }
    val candidateIds = bucketIndex(queries, "query_id")
      .join(bucketIndex(corpus, "neighbor_id"), Seq("tbl", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    val scored = candidateIds
      .join(qUnit, Seq("query_id"))
      .join(cUnit, Seq("neighbor_id"))
      .withColumn("cosine", round(cosine(col("q_u"), col("c_u")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("__rn").as("rank"))
  }

  /** Embedding near-dup pairs: probe sample vs corpus, cosine ≥ threshold.
    * Exact; for full-corpus dedup at scale, run [[lshTopK]]-style bucketing
    * first.
    */
  def nearDupPairs(probes: DataFrame, corpus: DataFrame, threshold: Double): DataFrame = {
    val p = broadcast(probes.select(col("vec_id").as("id_a"), asDouble(col("embedding")).as("u_a")))
    val c = corpus.select(col("vec_id").as("id_b"), asDouble(col("embedding")).as("u_b"))
    c.join(p, col("id_a") < col("id_b"))
      .withColumn("cosine", round(cosine(col("u_a"), col("u_b")), 6))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** SemDeDup-style semantic dedup: cluster the corpus by embedding-cosine ≥
    * `threshold` (transitively, via connected components) and keep the
    * smallest id per cluster. The default pair stage is the EXACT
    * broadcast-corpus join — right up to a few million vectors (the
    * broadcast is ids + unit vectors only). Past that, swap `pairs` for an
    * LSH candidate generator ([[lshCandidatePairs]]): same downstream
    * clustering, recall traded per the band math.
    */
  def semanticDedup(corpus: DataFrame, threshold: Double,
                    pairs: Option[DataFrame] = None): DataFrame = {
    val p = pairs.getOrElse(nearDupPairs(corpus, corpus, threshold))
      .select("id_a", "id_b")
    // alternating components, NOT min-label: cosine near-dup graphs are
    // thin chains (at sf0.1: 917 edges over 2000 mentioned nodes — more a
    // forest of paths than cliques), so diameters scale with corpus size.
    // Measured: even min-label WITH pointer doubling needs all 10 rounds
    // here (the 4x/round shortcut can't outrun a ~10^2-hop chain budget),
    // while large-star/small-star contracts any chain in O(log n) with a
    // proof that doesn't depend on the diameter. The r8 code silently
    // truncated these graphs at round 10 — the loud check caught it.
    graft.dedup.Clusters.dropNearDuplicates(corpus, col("vec_id"), p,
      alternating = true)
  }

  /** LSH-bucketed candidate pair generator for [[semanticDedup]] at corpus
    * sizes where the exact all-pairs stage is no longer affordable: only
    * pairs sharing a bucket in ≥1 of `tables` codes are scored, and the
    * multi-table explode carries (id, table, code) triples only — embeddings
    * rejoin after the candidate ids are deduped. Few planes + many tables
    * because dedup thresholds in the 0.4–0.6 range sit far from the sign-bit
    * decision boundary (see [[lshTopK]]'s band-math note).
    */
  /** SemDeDup-faithful candidate generator (Abbas et al. 2023, §2: the
    * paper clusters the embedding space with k-means and compares pairs
    * only WITHIN each cluster): reuse the IVF coarse quantizer —
    * deterministic centroid pick + `lloydIters` refinement steps
    * ([[Ivf.centroids]]/[[Ivf.refine]]) — assign every vector to its best
    * cell (broadcast centroids, corpus never moves), then score pairs
    * inside each cell.
    *
    * Candidate volume is ≈ nProbe²·N²/(2·nCells) for balanced cells, and
    * nCells scales with the corpus (the paper runs 50k clusters on 5 B
    * embeddings). `nProbe`: the paper dedups at tight thresholds (ε≈0.05)
    * where duplicates co-cluster and one cell suffices; at looser
    * thresholds matching pairs straddle cell boundaries, so each vector
    * indexes into its `nProbe` best cells (measured on the synthetic
    * corpus at 0.4: pair recall 24% @1 probe → 68% @2 → 91% @3). Contrast
    * [[lshCandidatePairs]]: sign-bit LSH near θ≈66° is weakly selective,
    * so at moderate density its candidate set approaches all-pairs — the
    * k-means route is BOTH the paper's semantics and the cheaper plan;
    * LSH remains for corpora where training a quantizer is not an option.
    */
  def kmeansCandidatePairs(corpus: DataFrame, threshold: Double,
                           nCells: Int = 16, lloydIters: Int = 1,
                           nProbe: Int = 3, dim: Int = 64,
                           salt: Int = 8): DataFrame = {
    val cents = Ivf.refine(corpus, Ivf.centroids(corpus, nCells), lloydIters, dim)
    // CACHED (r13, guide §1.2 "don't compute things twice"): the pair
    // stage's self-join evaluates its input once per side, and this input
    // re-runs the Lloyd refinement + the whole corpus assignment each
    // time — the query's single most expensive frame (measured: one
    // evaluation ≈ 1.2 s of the 5.9 s query at sf0.1; re-measured r14
    // isolated A/B: cache ON med 6.04 s vs OFF 6.65 s). One
    // materialization, both sides read the cache.
    //
    // LIFECYCLE (ADVICE r13): the result is lazy, so the cache must
    // outlive this call — CacheScope registers the unpersist on the
    // innermost active scope and degrades to a plain .cache() when none
    // is active. Library callers outside a CacheScope.withScope (or the
    // bench harness, which drops all blocks per query) own the release:
    // wrap the materialization in CacheScope.withScope or clear the
    // session's caches between invocations, exactly as the MinHashLSH
    // prep-frame contract documents.
    // embFloat: the embedding rides the pair shuffle AND this cache as the
    // raw float array (half the bytes — guide §2.3); ArrayCosine widens
    // floats in-register, bit-identically to the former double payload
    val assigned = graft.dedup.CacheScope.cache(
      Ivf.assignProbes(corpus, cents, "__kid", "__ku", nProbe, embFloat = true)
        .select(col("cell"), col("__kid").as("vid"), col("__ku").as("u")))
    // triangle-salted within-cell pairing: a plain cell self-join would run
    // nCells-way parallel at best and put a whole cell's quadratic pair
    // stage on one task (ScaleJoins.bucketedSelfPairs)
    graft.ops.ScaleJoins.bucketedSelfPairs(
        assigned,
        bucket = Seq("cell"), id = "vid", payload = Seq("u"), salt = salt)
      .withColumn("cosine", round(cosine(col("u_a"), col("u_b")), 6))
      .filter(col("cosine") >= threshold)
      // a pair sharing several probed cells appears once per shared cell;
      // every copy carries the same cosine, so the dedup is value-stable
      .dropDuplicates("id_a", "id_b")
      .select("id_a", "id_b", "cosine")
  }

  def lshCandidatePairs(corpus: DataFrame, threshold: Double,
                        nPlanes: Int = 2, tables: Int = 12, dim: Int = 64,
                        seed: Long = 42L): DataFrame = {
    require(tables * nPlanes <= 62, "packed code must fit one int64")
    val codes = (0 until tables).map(t => (t, hyperplanes(nPlanes, dim, seed + t)))
    // every table's code for a row, plus all of them packed into ONE long
    // (nPlanes bits per table) — the packed code is what lets a pair decide
    // table ownership with pure integer ops after the band join.
    // Codegen shape: the former per-plane unrolling (tables × nPlanes
    // separate zip_with+aggregate trees — 24 here) dominated this query's
    // cold-start with ~9 s of JIT/codegen (r7 driver record 14.7 s vs
    // ~5.3 s warm). All planes now ride ONE literal array-of-arrays: one
    // `transform` computes every sign bit in a runtime loop, one
    // `aggregate` packs them, and the per-table band codes are shift/mask
    // over the packed long — three HOF operators total, with the dot
    // products' summation order (elementwise zip_with, left fold from
    // 0.0) preserved exactly, so emitted values are bit-identical.
    val index: DataFrame = {
      val emb = transform(col("embedding"), x => x.cast("double"))
      val planesLit = typedLit(codes.flatMap(_._2.toSeq).map(_.toSeq))
      // bit (nPlanes·t + j) = sign of table t's plane j — the flattened
      // order IS the packed-code bit order
      val weights = typedLit((0 until tables * nPlanes).map(1L << _))
      val signs = transform(planesLit, p =>
        when(asColumn(graft.functions.ArrayDot(
            asExpression(emb), asExpression(p))) >= 0,
          lit(1L)).otherwise(lit(0L)))
      val packed = aggregate(zip_with(signs, weights, _ * _), lit(0L), _ + _)
      val mask = (1L << nPlanes) - 1
      val tblCodes = transform(sequence(lit(0), lit(tables - 1)), t =>
        call_function("shiftright", col("pk"), t * nPlanes)
          .bitwiseAND(lit(mask)))
      // payload rides the pair shuffle as the RAW float array (r14, guide
      // §2.3 narrower types): the 4.5×/side triangle replication used to
      // carry pre-cast 64-double arrays — half of this query's shuffle
      // bytes were the exact widening of floats the scorer could do
      // in-register. ArrayCosine reads float arrays natively (bit-identical
      // to the cast: float→double widening is exact).
      corpus.select(col("vec_id").as("vid"), packed.as("pk"),
          col("embedding").as("u"))
        .select(col("vid"), col("pk"), col("u"),
          posexplode(tblCodes).as(Seq("tbl", "code")))
    }
    // triangle-salted band join: tables × 2^nPlanes codes is a small key
    // space (48 here), so the plain band self-join would cap parallelism at
    // the bucket count and hand each degenerate bucket's quadratic pair
    // stage to a single task (ScaleJoins.bucketedSelfPairs)
    // embeddings ride the band join as PAYLOAD: the pair stage scores
    // cosine map-side right after the ownership test, so the candidate
    // pair set — this plan's largest intermediate (weak 2-plane LSH at
    // θ≈66° keeps most pairs) — is never exchanged again. The former
    // shape (pairs → distinct/ownership → TWO id-joins back to the
    // embedding table) re-shuffled those ~|pairs| rows twice; carrying
    // the vector costs wider band-join input (bounded: rows × salt/2 ×
    // dim doubles) and deletes both pair-scale exchanges.
    val paired = graft.ops.ScaleJoins.bucketedSelfPairs(index,
      bucket = Seq("tbl", "code"), id = "vid", payload = Seq("pk", "u"),
      salt = 8)
    // A pair sharing k tables' buckets surfaces k times (once per table).
    // Instead of a global distinct() — a full extra exchange of the
    // candidate set, formerly this plan's most expensive shuffle — each
    // pair is emitted only by its FIRST matching table: xor the packed
    // codes and keep the emission whose band is the lowest all-zero
    // nPlanes-bit field. Same first-bin-ownership idea as
    // intervalJoinBinned: an exact, codegen'd, map-side test; the dedup
    // shuffle disappears at every scale.
    val mask = (1L << nPlanes) - 1
    val xorPk = col("pk_a").bitwiseXOR(col("pk_b"))
    val firstMatch = (0 until tables).foldRight(lit(-1): Column) { (t, rest) =>
      when(xorPk.bitwiseAND(lit(mask << (nPlanes * t))) === 0, lit(t))
        .otherwise(rest)
    }
    paired.filter(col("tbl") === firstMatch)
      .withColumn("cosine", round(cosine(col("u_a"), col("u_b")), 6))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009): fuse any
    * number of rankings of the same id space by
    * `score(id) = Σ_lists 1/(rrfK + rank_list(id))` — the standard
    * score-free hybrid-retrieval combiner (sparse BM25 + dense ANN being
    * the canonical pair: RRF needs no score calibration between lists,
    * only ranks). Ids absent from a list simply contribute nothing.
    *
    * Engine-exactness: each contribution rides as
    * `round(1e6/(rrfK+rank))` — an integer from an integer rank, so the
    * fused sum and the final ordering are integer-decided.
    *
    * Scale shape: inputs are top-N ranking slices (small by
    * construction); the fuse is one union + one hash aggregate on id +
    * TakeOrderedAndProject. Each input must carry (`id`, `rank`).
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int = 20,
              rrfK: Int = 60): DataFrame = {
    require(rankings.nonEmpty && k >= 1 && rrfK >= 0,
      "need rankings, k >= 1, rrfK >= 0")
    rankings.map(_.select(col("id"),
        round(lit(1e6) / (lit(rrfK) + col("rank"))).cast("long").as("__c")))
      .reduce(_ unionAll _)
      .groupBy("id")
      .agg(count(lit(1)).cast("int").as("n_lists"),
        sum("__c").as("rrf_micro"))
      .orderBy(col("rrf_micro").desc, col("id").asc)
      .limit(k)
  }

  /** Maximal-marginal-relevance diverse top-k: greedily select `k` of the
    * `candidates` most query-relevant documents, each step taking the
    * candidate maximizing `λ·rel − (1−λ)·max_{s∈selected} sim(c, s)` —
    * the classic redundancy-penalized re-ranker (Carbonell & Goldstein
    * 1998), and in a curation pipeline the "diverse exemplar selection"
    * primitive (few-shot pools, eval-set seeding) that plain top-k
    * (always k near-identical matches) cannot express.
    *
    * Engine-exactness: relevance and pairwise similarity ride as
    * 6dp-rounded cosine MICRO-units, and each greedy step compares
    * `λp·rel_micro − (1000−λp)·maxsim_micro` — pure integers, ties to the
    * smaller id, so the whole recurrence is integer-decided (the t38/t16
    * discipline applied to a greedy loop).
    *
    * Scale shape: the corpus is touched ONCE — a broadcast-query cosine
    * scan feeding a TakeOrderedAndProject top-`candidates` cut. Everything
    * after is O(candidates²) on a deliberately small set (the re-rank
    * window): the pair grid builds from two broadcast copies of the
    * candidate slice, collapses into ONE row (a relevance array + a
    * similarity map), and the greedy loop runs as a single `aggregate`
    * HOF fold over that row — no per-step shuffle, no driver loop, no
    * .collect(). The selection plan is as distributed as its data: k
    * steps over ≤`candidates` rows is driver-free plan-side logic.
    */
  def mmrSelect(corpus: DataFrame, query: DataFrame, k: Int = 10,
                candidates: Int = 40, lambdaPermille: Int = 700): DataFrame = {
    require(k >= 1 && candidates >= k, "need candidates >= k >= 1")
    require(lambdaPermille >= 0 && lambdaPermille <= 1000,
      "lambdaPermille in [0, 1000]")
    val lp = lambdaPermille.toLong
    val lpInv = (1000 - lambdaPermille).toLong
    def micro(c: Column): Column = round(round(c, 6) * 1e6).cast("long")
    val q = broadcast(query.select(asDouble(col("embedding")).as("__q"),
      col("vec_id").as("__qid")))
    // one corpus scan: relevance + candidate cut
    val cands = corpus.crossJoin(q)
      .filter(col("vec_id") =!= col("__qid"))
      .select(col("vec_id"), asDouble(col("embedding")).as("__u"),
        micro(cosine(asDouble(col("embedding")), col("__q"))).as("rel_micro"))
      .orderBy(col("rel_micro").desc, col("vec_id").asc)
      .limit(candidates)
    // O(candidates²) pair grid — broadcast × broadcast, never the corpus
    val a = cands.select(col("vec_id").as("__ia"), col("__u").as("__ua"))
    val bSide = cands.select(col("vec_id").as("__ib"), col("__u").as("__ub"))
    val sims = a.join(broadcast(bSide), col("__ia") =!= col("__ib"))
      .select(concat_ws("_", col("__ia"), col("__ib")).as("__key"),
        micro(cosine(col("__ua"), col("__ub"))).as("__sim"))
    val candRow = cands.agg(collect_list(
      struct(col("vec_id").as("i"), col("rel_micro").as("r"))).as("__cs"))
    val simRow = sims.agg(map_from_entries(
      collect_list(struct(col("__key"), col("__sim")))).as("__sm"))
    // greedy fold: argmax via array_max over struct(score, -id) — integer
    // lexicographic compare gives max score then min id
    val one = candRow.crossJoin(broadcast(simRow))
    val seedSel = array(
      -array_max(transform(col("__cs"), c =>
        struct(c.getField("r").as("s"), (-c.getField("i")).as("n"))))
        .getField("n"))
    // sequence(2, k) counts DOWN for k=1 (the Vocab.ngrams guard) — the
    // seed IS the full selection there
    val selected = if (k == 1) seedSel else aggregate(
      sequence(lit(2), lit(k)), seedSel,
      (acc, _) => {
        val best = array_max(transform(
          filter(col("__cs"), c => !array_contains(acc, c.getField("i"))),
          c => {
            val maxSim = aggregate(acc, lit(Long.MinValue),
              (m, sid) => greatest(m, coalesce(element_at(col("__sm"),
                concat_ws("_", c.getField("i"), sid)), lit(Long.MinValue))))
            struct((lit(lp) * c.getField("r") - lit(lpInv) * maxSim).as("s"),
              (-c.getField("i")).as("n"))
          }))
        concat(acc, array(-best.getField("n")))
      })
    one.select(posexplode(selected).as(Seq("__pos", "vec_id")))
      .select((col("__pos") + 1).cast("int").as("sel_rank"), col("vec_id"))
      .join(cands.select("vec_id", "rel_micro"), Seq("vec_id"))
      .select("sel_rank", "vec_id", "rel_micro")
  }

  /** k-NN classification report: predict each probe's label by
    * majority vote over its [[bruteForceTopK]] neighbors (ties: most
    * votes, then smallest label — total order, engine-exact), then
    * roll the predictions into a confusion matrix against the held
    * true labels. The evaluation loop behind every embedding-quality
    * gate: "do the vectors separate the classes" answered without
    * training anything.
    *
    * Plan: the probe batch broadcasts through the one corpus scan
    * (the s1 shape), votes and argmax ride per-query windows on the
    * probe-scale intermediate, and the emission is class² rows. At
    * 100 TB corpus the scan swaps for the IVF bucketed index exactly
    * as [[hardNegatives]] documents — probe-side semantics unchanged.
    */
  def knnClassify(queries: DataFrame, corpus: DataFrame,
                  k: Int): DataFrame = {
    val nn = bruteForceTopK(queries, corpus, k)
    val votes = nn.join(corpus.select(col("vec_id").as("neighbor_id"),
        col("label").as("__nl")), "neighbor_id")
      .groupBy(col("query_id"), col("__nl"))
      .agg(count(lit(1)).as("__votes"))
    val byVotes = Window.partitionBy(col("query_id"))
      .orderBy(col("__votes").desc, col("__nl").asc)
    val pred = votes.withColumn("__rn", row_number().over(byVotes))
      .filter(col("__rn") === 1)
      .select(col("query_id"), col("__nl").as("pred_label"))
    pred.join(queries.select(col("vec_id").as("query_id"),
        col("label").as("true_label")), "query_id")
      .groupBy(col("true_label").cast("long").as("true_label"),
        col("pred_label").cast("long").as("pred_label"))
      .agg(count(lit(1)).as("n"))
  }
}
