package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequential association rules — "customers who bought A LATER bought
  * B": the temporal sibling of [[Associations]]' same-basket lift. The
  * direction matters (diapers→beer ≠ beer→diapers here), which is what
  * makes the rule actionable for next-purchase recommendation and
  * lifecycle marketing.
  *
  * A rule (A → B) counts a customer once iff some A-purchase strictly
  * precedes (by order DATE) some B-purchase, A ≠ B.
  * `confidence_ppm = n(A→B)·10⁶ DIV n(A-buyers)` — the denominator is
  * ALL customers who ever bought A (industry convention: confidence of
  * "A-buyer later converts to B"), integer DIV exact.
  *
  * Scale shape: the per-customer item timeline collapses to DISTINCT
  * (customer, item, first_day, last_day) FIRST — a customer buying A
  * in 10⁶ orders still contributes ONE row — so the per-customer pair
  * stage is quadratic in DISTINCT ITEMS per customer (catalog-bounded),
  * never in orders. Pairing is a per-customer self-join on that deduped
  * frame (`first_day(A) < last_day(B)` proves a preceding A-then-B
  * witness exists); one customer-key shuffle, then a (A, B)-key rollup
  * with map-side partials, a support floor, and the A-marginal joined
  * back. `salt > 1` reroutes the pair stage through the triangle-salted
  * [[ScaleJoins.bucketedSelfPairs]] (bucket = customer, payload = the
  * item's first/last day) for whale-customer graphs that must survive
  * with AQE off — an escape hatch, not the default; see the in-body
  * comment for the measured trade.
  *
  * `broadcastMarginals` (default true) hints the one-row-per-item
  * A-marginal as a broadcast — valid while the ITEM CATALOG fits an
  * executor broadcast budget (TPC-H part is 200k·SF rows ≈ 16 B/row —
  * fine to SF 10k). A retail-scale catalog of 10⁸+ items exceeds the
  * limit: pass false and the marginal joins on the already-shuffled
  * `ante` key (pairCounts is post-aggregation, so this adds one
  * exchange of rule-table size, not pair-scale). Same escape-hatch
  * contract as `Vocab.unigramLogProb(broadcastVocab)`.
  */
object Sequences {

  def sequentialRules(orders: DataFrame, lineitem: DataFrame,
                      minSupport: Long, k: Int,
                      broadcastMarginals: Boolean = true,
                      salt: Int = 1): DataFrame = {
    require(k >= 1 && minSupport >= 1, "need k >= 1, minSupport >= 1")
    val items = lineitem
      .join(orders.select(col("o_orderkey"), col("o_custkey"),
        to_date(col("o_orderdate")).as("__day")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("cust"), col("l_partkey").as("item"))
      .agg(min("__day").as("__first"), max("__day").as("__last"))
    // salt = 1 (default): plain cust-key self-join. Per-customer width is
    // catalog-bounded, and under AQE skew-join a whale customer's a-side
    // partition splits across tasks with the b-side replicated — so the
    // default already has task-level mitigation. The EXPLICIT salted path
    // below survives even with AQE off / a single key past the skew
    // thresholds, at a measured ~13% warm cost on uniform data
    // (round-14 interleaved same-JVM minima at sf0.1, from an A/B harness
    // since removed: 3.17 s naive vs 3.59 s salt=8 — replication + the
    // explode breaking WSCG fusion),
    // which is why it is the hatch, not the default — same contract as
    // Clusters.dropNearDuplicates(alternating).
    val directed = if (salt == 1) {
      val a = items.select(col("cust"), col("item").as("ante"),
        col("__first").as("__af"))
      val b = items.select(col("cust"), col("item").as("cons"),
        col("__last").as("__bl"))
      a.join(b, Seq("cust"))
        .filter(col("ante") =!= col("cons") && col("__af") < col("__bl"))
        .select(col("ante"), col("cons"))
    } else {
      // each unordered within-customer pair once (triangle-salted,
      // ~|B|²/salt² per-task bound), then the ≤2 directed rules whose
      // preceding-witness test passes; result-identical for any salt
      ScaleJoins.bucketedSelfPairs(items, Seq("cust"), "item",
          Seq("__first", "__last"), salt)
        .select(explode(array(
          struct(col("id_a").as("ante"), col("id_b").as("cons"),
            (col("__first_a") < col("__last_b")).as("ok")),
          struct(col("id_b").as("ante"), col("id_a").as("cons"),
            (col("__first_b") < col("__last_a")).as("ok")))).as("e"))
        .filter(col("e.ok"))
        .select(col("e.ante").as("ante"), col("e.cons").as("cons"))
    }
    val pairCounts = directed
      .groupBy(col("ante"), col("cons"))
      .agg(count(lit(1)).as("n_sequential"))
      .filter(col("n_sequential") >= minSupport)
    val anteCounts = items.groupBy(col("item").as("ante"))
      .agg(count(lit(1)).as("n_ante"))
    val marg = if (broadcastMarginals) broadcast(anteCounts) else anteCounts
    pairCounts.join(marg, Seq("ante"))
      .select(col("ante"), col("cons"), col("n_sequential"), col("n_ante"),
        call_function("div", col("n_sequential") * 1000000L,
          col("n_ante")).as("confidence_ppm"))
      .orderBy(col("confidence_ppm").desc, col("n_sequential").desc,
        col("ante").asc, col("cons").asc)
      .limit(k)
  }
}
