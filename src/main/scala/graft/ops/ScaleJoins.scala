package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew- and shuffle-management join helpers for the 100 TB path.
  *
  * AQE's skew-join handling splits oversized SORT-MERGE partitions at
  * runtime, but it cannot help when (a) the skew is in a broadcast-disabled
  * join, or (b) a single key's rows must meet a single build row over and
  * over (hot-key fan-in). Salting fixes (b) statically: scatter the probe
  * side's hot key across `salt` sub-keys and replicate the matching build
  * rows once per sub-key, so no task sees the whole hot key.
  */
object ScaleJoins {

  /** Salted equi-join (left side = big/skewed probe, right side = the
    * smaller build side whose rows get replicated `salt`×).
    *
    * @param scatter column with high cardinality INSIDE a hot key (any
    *                unique-ish probe column) — drives the deterministic
    *                spread of the key's rows across salt buckets
    */
  def saltedEquiJoin(
      probe: DataFrame,
      build: DataFrame,
      key: String,
      scatter: Column,
      salt: Int,
      joinType: String = "inner"): DataFrame = {
    require(salt > 0, "salt must be positive")
    val p = probe.withColumn("__salt", pmod(hash(scatter), lit(salt)))
    val b = build.withColumn("__salt", explode(sequence(lit(0), lit(salt - 1))))
    p.join(b, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** Bin-bucketed point-in-interval range join — the scale path for a
    * non-equi `lo <= point < hi` join that Spark would otherwise plan as a
    * broadcast nested-loop (fine for a handful of intervals, quadratic
    * death once the interval table itself is large).
    *
    * Standard binning decomposition: pick a bin width `w`, replicate each
    * interval into every bin it overlaps (`⌊lo/w⌋ .. ⌊(hi−1)/w⌋` —
    * `ceil(len/w)+1` bins at most, 2 when `w ≥` the interval length), map
    * each point to its single bin, equi-join on the bin id, and re-check
    * the exact containment predicate. A (point, interval) match shares
    * exactly one bin — the point's — so no dedup pass is needed. The
    * non-equi join becomes one hash-partitioned equi shuffle: both sides
    * scale out, AQE can handle a skewed bin, and the replication factor is
    * bounded by interval_length/w + 1 (pick `w` near the typical interval
    * length; the d9/d11 precedent of choosing constants for the data's
    * shape applies).
    *
    * Intervals are half-open `[lo, hi)`, all three columns int64 in one
    * unit (epoch-µs in the j9 query). Column names must not collide
    * across the two inputs (same contract as Spark's own join on
    * pre-projected frames).
    */
  def rangeJoinBinned(points: DataFrame, point: Column,
                      intervals: DataFrame, lo: Column, hi: Column,
                      binWidth: Long): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    val w = lit(binWidth)
    val p = points.withColumn("__bin", floorDiv(point, w))
    val iv = intervals.withColumn("__bin",
      explode(sequence(floorDiv(lo, w), floorDiv(hi.cast("long") - 1, w))))
    p.join(iv, Seq("__bin"))
      .filter(point >= lo && point < hi)
      .drop("__bin")
  }

  /** Interval×interval OVERLAP join via the same binning decomposition —
    * the scale path for `max(lo₁, lo₂) < min(hi₁, hi₂)` (temporal overlap
    * analytics: sessions × outage windows, ad flights × browse intervals).
    * Spark plans the raw predicate as a broadcast nested-loop; here BOTH
    * sides replicate into the bins they cover and meet in one equi
    * shuffle.
    *
    * Unlike the point case, an overlapping pair shares EVERY bin their
    * intersection covers, so the join would duplicate it — the classic fix
    * emits a pair only from the FIRST shared bin, `⌊max(lo₁, lo₂)/w⌋`
    * (both intervals provably cover it, and only one bin can be that
    * maximum), an exact integer ownership test, no dedup shuffle.
    *
    * Half-open `[lo, hi)` int64 intervals in one unit; column names must
    * not collide across inputs. Replication is `len/w + 1` bins per row —
    * pick `w` near the typical SHORTER side's length; a degenerate
    * months-long interval replicates wide, which is the documented cost of
    * keeping the join an equi shuffle (AQE splits any hot bin).
    */
  def intervalJoinBinned(left: DataFrame, lLo: Column, lHi: Column,
                         right: DataFrame, rLo: Column, rHi: Column,
                         binWidth: Long): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    val w = lit(binWidth)
    val l = left.withColumn("__bin",
      explode(sequence(floorDiv(lLo, w), floorDiv(lHi.cast("long") - 1, w))))
    val r = right.withColumn("__bin",
      explode(sequence(floorDiv(rLo, w), floorDiv(rHi.cast("long") - 1, w))))
    l.join(r, Seq("__bin"))
      .filter(greatest(lLo, rLo) < least(lHi, rHi))
      .filter(col("__bin") === floorDiv(greatest(lLo, rLo), w))
      .drop("__bin")
  }

  /** Exact floor division over the FULL int64 domain: `pmod` makes the
    * numerator an exact multiple of `w`, and the divide runs in
    * DECIMAL(38,0) — never double, whose 53-bit mantissa would round a
    * quotient across a bin boundary for operands past 2^53 (epoch-ns
    * magnitudes). Result is exact for any long input and positive width.
    */
  private def floorDiv(c: Column, w: Column): Column = {
    val l = c.cast("long")
    ((l - pmod(l, w)).cast("decimal(38,0)") / w).cast("long")
  }

  /** Triangle-salted within-bucket pair generation — all unordered pairs
    * `{x, y}` of rows sharing a bucket, each pair exactly once, normalized
    * to `id_a < id_b`. The salt-grid decomposition is the self-join case of
    * 1-Bucket-Theta (Okcan & Riedewald, SIGMOD'11 "Processing theta-joins
    * using MapReduce"): cover the output matrix's upper triangle with
    * g(g+1)/2 blocks so every reducer gets a bounded block of the
    * quadratic output.
    *
    * The naive plan (self-join on the bucket key, `id_a < id_b`) has as
    * many join keys as BUCKETS: a candidate stage with 16 cells or 48 LSH
    * band codes runs ≤16/48-way parallel no matter how many cores the
    * cluster has, and one hot bucket's |B|² pair blow-up lands on a single
    * task. Salting each row into `salt` groups by id hash and joining group
    * ga to groups gb ≥ ga (the "triangle" of the salt × salt grid) raises
    * the key count to buckets × salt(salt+1)/2 and caps any task at
    * ~|B|²/salt² pairs, for a TWO-sided replication cost of ~(salt+1)/2×
    * per side — the standard trade for quadratic-bucket stages. Pairs across groups
    * (ga < gb) are emitted unconditionally and id-normalized after; pairs
    * inside one group (ga = gb) use the id order directly. Result-identical
    * to the naive plan for any salt; `salt = 1` IS the naive plan.
    * Replication is two-sided (~(salt+1)/2× each side) so that EVERY block
    * is its own join key — see the in-body comment for the one-sided
    * variant's hidden |B|²/salt task cap.
    *
    * @param payload columns carried through to both sides of each pair,
    *                suffixed `_a` / `_b` (swapped alongside the ids during
    *                normalization)
    */
  def bucketedSelfPairs(df: DataFrame, bucket: Seq[String], id: String,
                        payload: Seq[String], salt: Int): DataFrame = {
    require(salt > 0, "salt must be positive")
    def side(s: String) = df.select(
      bucket.map(col) ++
        Seq(pmod(hash(col(id)), lit(salt)).as(s"__g$s"), col(id).as(s"id$s")) ++
        payload.map(c => col(c).as(s"$c$s")): _*)
    // BOTH sides explode so the join key carries the FULL block coordinate
    // (ga, gb): a row in group g serves as the a-side of blocks (g, gb≥g)
    // and the b-side of blocks (ga≤g, g). A one-sided explode (r8 shape —
    // join key (bucket, gb) only) leaves the gb column's g blocks on ONE
    // key, capping tasks at |B|²/salt instead of |B|²/salt²; the skew
    // harness measured the difference at 16.4 s vs 1.4 s max-task on a 10%
    // hot bucket (SCALE.md). Replication cost: ~(salt+1)/2× per
    // side (vs one-sided's (salt+1)/2× on a alone) — the standard
    // 1-Bucket-Theta trade of shuffle volume for a true per-task cap.
    val a = side("_a").withColumn("__ga", col("__g_a"))
      .withColumn("__gb", explode(sequence(col("__g_a"), lit(salt - 1))))
    val b = side("_b").withColumn("__gb", col("__g_b"))
      .withColumn("__ga", explode(sequence(lit(0), col("__g_b"))))
    // pin the pair stage's partition count: AQE sizes reduce partitions by
    // shuffle INPUT bytes, and a quadratic stage's input is tiny relative
    // to its output — left to itself AQE coalesces the join to a couple of
    // partitions and the whole |B|² scoring runs near-serial. An EXPLICIT
    // partition count is exempt from AQE coalescing, so the scoring keeps
    // the cluster's parallelism.
    // 4× the core count: block keys land in partitions by hash, and at
    // near-core key counts the birthday effect stacks several heavy blocks
    // in one partition (measured: salt=8's 36 hot-bucket blocks over 32
    // partitions left a 10.5 s max-task; 128 partitions cut the stacking).
    // Tasks here are CPU-bound on per-pair work, so extra small partitions
    // cost scheduling noise only.
    val parallelism = 4 * df.sparkSession.sparkContext.defaultParallelism
    val keys = (bucket ++ Seq("__ga", "__gb")).map(col)
    val joined = a.repartition(parallelism, keys: _*)
      .join(b.repartition(parallelism, keys: _*), bucket ++ Seq("__ga", "__gb"))
      // same group (diagonal block): id order picks the one emission;
      // different groups: the ga < gb block orientation already makes the
      // pair unique
      .filter(col("__ga") < col("__gb") || col("id_a") < col("id_b"))
    val swap = col("id_a") > col("id_b")
    val normalized = Seq(
      when(swap, col("id_b")).otherwise(col("id_a")).as("id_a"),
      when(swap, col("id_a")).otherwise(col("id_b")).as("id_b")) ++
      payload.flatMap(c => Seq(
        when(swap, col(s"${c}_b")).otherwise(col(s"${c}_a")).as(s"${c}_a"),
        when(swap, col(s"${c}_a")).otherwise(col(s"${c}_b")).as(s"${c}_b")))
    joined.select(bucket.map(col) ++ normalized: _*)
  }

  /** Key-skew audit: the measurement that DECIDES whether [[saltedEquiJoin]]
    * (or AQE skew handling) is needed at all, and with what salt. One row
    * per top-`topK` heaviest key — count, integer-ppm share, rank — with
    * corpus-level skew statistics broadcast onto every row: distinct key
    * count, total rows, `skew_ratio_ppm` = max/mean in ppm (the "how many
    * × the average does the hottest key weigh" number that sizes the salt),
    * and exact p50/p99 of the per-key count distribution.
    *
    * Scale shape: one hash-aggregation shuffle on the key (map-side
    * combine makes the shuffle O(distinct keys), not O(rows)); the stats
    * pass and the top-k (`TakeOrderedAndProject` — never a global sort)
    * both run over the already-aggregated per-key counts; stats ride back
    * as a broadcast 1-row frame. Integer shares use floor division
    * (`DIV`), exact in any engine; percentiles over per-key counts are
    * the bounded-domain exact-percentile case (the t12 argument).
    *
    * Ties at the top-k boundary break by key order, so the emitted set is
    * deterministic for any input partitioning.
    */
  /** `cnt · 10⁶ DIV total` with the product in DECIMAL(38,0): int64 alone
    * overflows once a single key holds > 9.2·10¹² rows — reachable in a
    * 100 TB table. DIV on decimals returns the exact int64 quotient
    * (shares are ≤ 10⁶ by construction). Exposed for the boundary
    * property test.
    */
  private[graft] def sharePpm: Column =
    expr("CAST(cnt AS DECIMAL(38,0)) * 1000000 DIV total_rows")

  /** `max_cnt · distinct_keys · 10⁶ DIV total` (= max/mean in ppm), the
    * triple product in DECIMAL(38,0): the int64 bound max_cnt·distinct ≤
    * 9.2·10¹² is crossed by e.g. 10⁹ distinct keys with a 10⁴-row hot key.
    * Decimal headroom ~10³⁸ ≫ any table. Exposed for the boundary
    * property test.
    */
  private[graft] def skewRatioPpm: Column =
    expr("CAST(max_cnt AS DECIMAL(38,0)) * distinct_keys * 1000000" +
      " DIV total_rows")

  def keySkewAudit(df: DataFrame, key: Column, topK: Int = 20): DataFrame = {
    require(topK > 0, "topK must be positive")
    val counts = df.groupBy(key.cast("string").as("key"))
      .agg(count(lit(1)).as("cnt"))
    val stats = counts.agg(
      count(lit(1)).as("distinct_keys"),
      sum(col("cnt")).as("total_rows"),
      max(col("cnt")).as("max_cnt"),
      round(percentile(col("cnt"), lit(0.5)), 6).as("p50_cnt"),
      round(percentile(col("cnt"), lit(0.99)), 6).as("p99_cnt"))
    val top = counts.orderBy(col("cnt").desc, col("key").asc).limit(topK)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("key").asc)))
    top.crossJoin(broadcast(stats))
      .select(col("key"), col("cnt"), col("rank").cast("long").as("rank"),
        sharePpm.as("share_ppm"),
        col("distinct_keys"), col("total_rows"),
        skewRatioPpm.as("skew_ratio_ppm"),
        col("p50_cnt"), col("p99_cnt"))
  }
}
