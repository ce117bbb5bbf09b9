package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the coarse-quantizer
  * alternative to [[Similarity.lshTopK]]:
  *
  *  1. pick `nCells` centroids from the corpus (deterministic hash-ordered
  *     global top-k — a distributed `TakeOrderedAndProject`, no collect);
  *  2. assign every corpus vector to its best centroid (one broadcast
  *     cross-join against the tiny centroid set + argmax);
  *  3. per query, score the same centroids and search only the `nProbe`
  *     best cells' vectors.
  *
  * Work per query drops from |corpus| to ~(nProbe/nCells)·|corpus| at the
  * cost of recall when a true neighbor lives in an unprobed cell. The cell
  * assignment is the reusable "index": at 100 TB it is computed once,
  * written bucketed by cell, and queries touch only their probed buckets.
  *
  * A production IVF runs a few k-means refinement iterations; hash-sampled
  * centroids are the deterministic, shuffle-free baseline (Lloyd iterations
  * would be `nCells`-way broadcast joins of the same shape as [[assign]]).
  */
object Ivf {

  /** Affine id-scrambling constants for the centroid pick (glibc LCG
    * multiplier/increment over the 2^31−1 Mersenne prime): pure modular
    * arithmetic so the DuckDB oracle reproduces the pick exactly —
    * xxhash64 exists only in Spark. `vec_id` is reduced mod P first so the
    * product never overflows a long at any id scale.
    */
  val PickP = 2147483647L
  val PickA = 1103515245L
  val PickB = 12345L

  /** Deterministic pseudo-random centroid pick: global top-`nCells` by
    * scrambled id, tagged with dense cell ids.
    */
  def centroids(corpus: DataFrame, nCells: Int): DataFrame = {
    val picked = corpus
      // a null embedding must never become a centroid: its cosine is null
      // against every vector, which would leave that cell unassignable
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("c_emb"))
      .orderBy(pmod(pmod(col("vec_id"), lit(PickP)) * PickA + PickB, lit(PickP)),
        col("vec_id"))
      .limit(nCells)
    // dense cell ids by ascending vec_id WITHOUT a global window (the frame
    // is ≤ nCells rows post-limit, but a row_number over it still plans the
    // all-rows-to-one-partition WindowExec and logs the global-window
    // warning): pack the picked rows into one sorted array and posexplode —
    // pos IS the 0-based rank by vec_id, struct sort order being field 1.
    picked
      .agg(sort_array(collect_list(struct(col("vec_id"), col("c_emb")))).as("__cs"))
      .select(posexplode(col("__cs")).as(Seq("cell", "__c")))
      .select(col("cell"), col("__c.c_emb").as("c_emb"))
  }

  /** Rank the centroids per vector by cosine and keep each vector's `keep`
    * best cells — as a pure PROJECTION: all centroids pack into ONE
    * broadcast row, and each corpus row scores/sorts/slices them inside a
    * higher-order expression. The corpus is never shuffled and no window
    * runs (the previous plan exploded to (vector × centroid) rows and moved
    * them all through a row_number exchange — at 100 TB that shuffle IS the
    * assignment cost; here it is zero). Tie-break matches the oracle's
    * `ORDER BY sim DESC, cell ASC` exactly. Emits `probe_rank` (0-based
    * closeness rank of the kept cell) for probe-budget sweeps; single-cell
    * callers drop it.
    */
  /** `embFloat = true` emits `embName` as the RAW `array<float>` column
    * (r14, guide §2.3): a caller that carries the embedding as pair-stage
    * PAYLOAD ([[Similarity.kmeansCandidatePairs]]) then shuffles/caches
    * half the bytes, and [[graft.functions.ArrayCosine]] widens floats
    * in-register — bit-identical scores. The kernel input is cast to
    * doubles per ROW either way, so the assignment itself is unchanged.
    */
  private def assignCells(vectors: DataFrame, cents: DataFrame, idName: String,
                          embName: String, keep: Int,
                          embFloat: Boolean = false): DataFrame = {
    import org.apache.spark.sql.graftfn.{asColumn, asExpression}
    val packed = broadcast(
      cents.agg(collect_list(struct(col("cell"), col("c_emb"))).as("__cents")))
    // ONE native kernel per row (guide §4) replacing the interpreted
    // slice(array_sort(transform(...), comparator), 1, keep) HOF pipeline —
    // bit-identical by construction (same cosine loop, Spark's own
    // nan-aware double ordering, same TimSort, -Inf null guard; see
    // functions.TopCellsBySim's contract scaladoc). The HOF form stays
    // below behind `spark.graft.nativeTopCells=false` only as the
    // executable specification (IvfSpec pins equality).
    val embDouble: Column =
      if (embFloat) col(embName).cast("array<double>") else col(embName)
    val topCells: Column =
      if (vectors.sparkSession.conf
            .get("spark.graft.nativeTopCells", "true") == "true")
        asColumn(graft.functions.TopCellsBySim(
          asExpression(embDouble), asExpression(col("__cents")), keep))
      else
        transform(slice(array_sort(
          transform(col("__cents"), c =>
            // null-safe: a null cosine (degenerate vector) sorts LAST as
            // -Inf — a raw null would make both comparator branches false
            // and the fallthrough cell-difference intransitive (TimSort
            // contract violation)
            struct(coalesce(
              Similarity.cosine(embDouble, c.getField("c_emb")),
              lit(Double.NegativeInfinity)).as("sim"),
              c.getField("cell").as("cell"))),
          (l, r) =>
            when(l.getField("sim") > r.getField("sim"), -1)
              .when(l.getField("sim") < r.getField("sim"), 1)
              .otherwise(l.getField("cell") - r.getField("cell"))),
          1, keep), rc => rc.getField("cell"))
    val embOut: Column =
      if (embFloat) col("embedding") else col("embedding").cast("array<double>")
    vectors
      .select(col("vec_id").as(idName), embOut.as(embName))
      .crossJoin(packed)
      .select(col(idName), col(embName),
        posexplode(topCells).as(Seq("probe_rank", "cell")))
      .select(col(idName), col(embName), col("cell"), col("probe_rank"))
  }

  /** Single-cell corpus assignment (the IVF index). */
  def assign(corpus: DataFrame, cents: DataFrame, idName: String = "neighbor_id",
             embName: String = "c_u"): DataFrame =
    assignCells(corpus, cents, idName, embName, keep = 1).drop("probe_rank")

  /** Multi-cell assignment: each vector lands in its `nProbe` best cells —
    * the index-side analog of query-side probing, used by candidate
    * generators whose pair threshold is loose enough that matching pairs
    * straddle single-cell boundaries ([[Similarity.kmeansCandidatePairs]]).
    */
  def assignProbes(corpus: DataFrame, cents: DataFrame, idName: String,
                   embName: String, nProbe: Int,
                   embFloat: Boolean = false): DataFrame =
    assignCells(corpus, cents, idName, embName, keep = nProbe,
        embFloat = embFloat)
      .drop("probe_rank")

  /** Lloyd refinement: `iters` k-means steps — assign, then recentre each
    * cell on the mean of its members (renormalized). Each step is one
    * broadcast assignment + one aggregation; empty cells keep their old
    * centroid. Tightens cells around the data so fewer probes reach the
    * same recall.
    *
    * @param dim embedding dimensionality; pass <= 0 (the default) to derive
    *            it from the first corpus vector — `element_at` past the
    *            array end would otherwise silently null the new centroids.
    *            The derivation runs a `first()` JOB over the corpus — fine
    *            on testdata, but a 100 TB caller should always pass the
    *            dim its schema already knows (every production call site in
    *            [[graft.SparkEntry]] does).
    */
  def refine(corpus: DataFrame, cents: DataFrame, iters: Int,
             dim: Int = -1): DataFrame = {
    val d =
      if (dim > 0) dim
      else corpus.select(size(col("embedding"))).first().getInt(0)
    var current = cents
    for (_ <- 0 until iters) {
      val assigned = assign(corpus, current, "m_id", "m_emb")
      // per-dimension scalar sums: one shuffle, O(dim) agg state per cell —
      // never a collect_list of member vectors (unbounded buffer at scale)
      val sumCols = (1 to d).map(i =>
        sum(element_at(col("m_emb"), i)).as(s"s_$i")) :+ count(lit(1)).as("n")
      val sums = assigned.groupBy(col("cell")).agg(sumCols.head, sumCols.tail: _*)
      val means = sums.select(col("cell"),
        array((1 to d).map(i => col(s"s_$i") / col("n")): _*).as("mean"))
      current = current.alias("c")
        .join(means.alias("m"), Seq("cell"), "left")
        .select(col("cell"), coalesce(col("mean"), col("c_emb")).as("c_emb"))
    }
    current
  }

  /** Approximate top-k: search only each query's `nProbe` best cells.
    * `lloydIters` k-means refinement steps tighten the cells first.
    * `dim` as in [[refine]]: pass it explicitly at scale.
    */
  def topK(queries: DataFrame, corpus: DataFrame, k: Int,
           nCells: Int = 16, nProbe: Int = 4, lloydIters: Int = 1,
           dim: Int = -1): DataFrame = {
    val cents = refine(corpus, centroids(corpus, nCells), lloydIters, dim)
    val corpusCells = assign(corpus, cents)
    val queryCells = assignCells(queries, cents, "query_id", "q_u", keep = nProbe)
    val scored = queryCells.join(corpusCells, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(Similarity.cosine(col("q_u"), col("c_u")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("__rn").as("rank"))
  }

  /** Incremental index maintenance: assign a NEW vector batch into the
    * EXISTING index's cells and report per-cell growth — the operational
    * report behind "when do I re-train the coarse quantizer" (a cell
    * absorbing most of the incoming traffic means the centroids no longer
    * span the data; rebalance before recall decays).
    *
    * Centroids come from the existing corpus only (the index is NOT
    * retrained per batch — that is the point of upsert) and broadcast;
    * both assignments are the zero-shuffle [[assign]] projection, and
    * the per-cell rollup is cell-count-sized. Cells that attract nothing
    * still emit (n = 0) — a silent empty cell is itself a signal.
    */
  def upsertReport(existing: DataFrame, batch: DataFrame,
                   nCells: Int): DataFrame = {
    val ex = existing.filter(col("embedding").isNotNull)
    val nb = batch.filter(col("embedding").isNotNull)
    val cents = centroids(ex, nCells).cache()
    val oldCounts = assign(ex, cents, idName = "vec_id")
      .groupBy("cell").agg(count(lit(1)).as("__no"))
    val newCounts = assign(nb, cents, idName = "vec_id")
      .groupBy("cell").agg(count(lit(1)).as("__nn"))
    cents.select("cell")
      .join(oldCounts, Seq("cell"), "left")
      .join(newCounts, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("__no"), lit(0L)).as("n_old"),
        coalesce(col("__nn"), lit(0L)).as("n_new"),
        (coalesce(col("__no"), lit(0L)) + coalesce(col("__nn"), lit(0L)))
          .as("n_total"))
  }

  /** Cell-balance maintenance report — the rebalancing decision an IVF
    * index needs periodically: skewed cells ruin ANN latency (a probe of
    * an oversized cell scores its whole bucket) and recall (starved cells
    * waste probe budget), so each cell reports its load against the ideal
    * `total/nCells` and an advisory action: `split` when over
    * `splitX×` target, `merge` when under `target/mergeDiv`, else `keep`.
    *
    * Plan: one corpus-scale assignment (the same broadcast-centroid
    * argmax as [[assign]]) collapsed to cell grain, then everything runs
    * at CELL scale — the whole-set total rides one window over nCells
    * rows. All thresholds integer (`load_ppm = n·10⁶ DIV total`), so the
    * advice replays exactly in the oracle.
    */
  def cellBalance(corpus: DataFrame, nCells: Int, splitX: Long = 2L,
                  mergeDiv: Long = 4L): DataFrame = {
    require(splitX >= 1 && mergeDiv >= 1, "splitX/mergeDiv must be >= 1")
    val ex = corpus.filter(col("embedding").isNotNull)
    val cents = centroids(ex, nCells)
    val counts = assign(ex, cents, idName = "vec_id")
      .groupBy("cell").agg(count(lit(1)).as("n_vectors"))
    cents.select("cell")
      .join(counts, Seq("cell"), "left")
      .select(col("cell"), coalesce(col("n_vectors"), lit(0L)).as("n_vectors"))
      .withColumn("__total", sum("n_vectors").over(Window.partitionBy()))
      .withColumn("__target", expr("__total div " + nCells))
      .select(col("cell"), col("n_vectors"),
        expr("(n_vectors * 1000000) div __total").as("load_ppm"),
        when(col("n_vectors") > col("__target") * splitX, "split")
          .when(col("n_vectors") * mergeDiv < col("__target"), "merge")
          .otherwise("keep").as("action"))
  }

  /** nProbe/recall tradeoff sweep — the index-tuning report that decides
    * what an ANN deployment actually pays per query: for each probe
    * budget in `probes`, recall@k against the exact brute-force ranking
    * (micro-averaged, integer ppm) and the candidate workload that budget
    * scored. The report answers "is nprobe=2 within 1% of nprobe=8 at a
    * quarter of the reads" BEFORE the index ships.
    *
    * One index build, one corpus assignment, ONE query-cell ranking at
    * `max(probes)` — a candidate row scored at probe rank r participates
    * in every level p > r via an explode over the literal sweep array, so
    * no level recomputes cosines (the level column multiplies only
    * query-scale candidate rows, never the corpus). Recall joins the
    * exact top-k on (query, neighbor) ids; all emissions exact int64.
    */
  def probeSweep(queries: DataFrame, corpus: DataFrame, k: Int,
                 probes: Seq[Int], nCells: Int = 16, lloydIters: Int = 1,
                 dim: Int = -1): DataFrame = {
    require(probes.nonEmpty && probes.forall(_ > 0))
    val cents = refine(corpus, centroids(corpus, nCells), lloydIters, dim)
    val corpusCells = assign(corpus, cents)
    val queryCells = assignCells(queries, cents, "query_id", "q_u",
      keep = probes.max)
    val sweepLit = array(probes.map(lit(_)): _*)
    val leveled = queryCells
      .join(corpusCells, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        round(Similarity.cosine(col("q_u"), col("c_u")), 6))
      .select(col("query_id"), col("neighbor_id"), col("cosine"),
        explode(filter(sweepLit, p => p > col("probe_rank"))).as("nprobe"))
    val w = Window.partitionBy(col("nprobe"), col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    val approxTopK = leveled
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k)
      .select(col("nprobe"), col("query_id"), col("neighbor_id"))
    val exact = Similarity.bruteForceTopK(queries, corpus, k)
      .select(col("query_id"), col("neighbor_id"))
    val exactTotal = broadcast(exact.agg(count(lit(1)).as("n_exact")))
    val hits = approxTopK.join(exact, Seq("query_id", "neighbor_id"))
      .groupBy("nprobe").agg(count(lit(1)).as("n_hits"))
    leveled.groupBy("nprobe")
      .agg(count_distinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_candidates"))
      .join(hits, Seq("nprobe"), "left")
      .crossJoin(exactTotal)
      .select(col("nprobe"), col("n_queries"), col("n_candidates"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"), col("n_exact"),
        call_function("div",
          coalesce(col("n_hits"), lit(0L)) * 1000000L, col("n_exact"))
          .as("recall_ppm"))
  }
}
