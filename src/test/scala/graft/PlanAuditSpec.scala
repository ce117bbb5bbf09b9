package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan audits: the judged properties are not "returns right rows"
  * but "plans the way a 100 TB run needs" — broadcasts chosen, filters
  * pushed into the parquet scan, aggregates partial-before-shuffle, no
  * redundant exchanges. These specs pin those plan shapes so a refactor
  * that silently regresses one fails CI.
  */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("broadcast prefix join (J8) plans a BroadcastHashJoin — no shuffle of the probe side") {
    val p = plan(SparkEntry.queries("j8_broadcast_prefix")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast hash join in:\n$p")
  }

  test("scalar-pack filters (P1/P2) push down to the parquet scan") {
    val p = plan(SparkEntry.queries("p1_scalar_pack")(spark, sf))
    assert(p.contains("PushedFilters: [") && p.contains("In(p_type"),
      s"expected p_type IN pushed to scan in:\n$p")
  }

  test("column pruning reaches the scan: 2-column projection reads 2 columns") {
    val df = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val p = plan(df)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_extendedprice"),
      s"scan reads more than projected:\n$readSchema")
  }

  test("sum-coalesce aggregation (A2) is partial+final (map-side combine)") {
    val p = plan(SparkEntry.queries("a2_sum_coalesce")(spark, sf))
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final HashAggregate in:\n$p")
  }

  test("top-1-per-key window (W2) costs exactly one hash exchange") {
    val df = ops.Dedup.latestPerKeyAndDay(Tables.lineitem(spark, sf),
      col("l_orderkey"), col("l_shipdate"), Seq(col("l_linenumber").desc))
    val p = plan(df)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges in:\n$p")
  }

  test("embedding near-dup broadcasts the probe side (no corpus shuffle)") {
    val emb = Tables.embeddings(spark, sf)
    val p = plan(sim.Similarity.nearDupPairs(
      emb.filter(col("vec_id") % 10 === 0), emb, 0.4))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast NLJ for probe×corpus in:\n$p")
  }

  test("catalog scan prunes partitions from a partition-column predicate (S2)") {
    // the reference's push_down_predicate on partitioncreateddate
    // (script/main.py:263-298) — Catalyst's PruneFileSourcePartitions
    val docs = Tables.documents(spark, sf)
      .withColumn("pm", concat(lit("2024-0"), (col("doc_id") % 3 + 1).cast("string")))
    docs.write.mode("overwrite").partitionBy("pm")
      .format("parquet").saveAsTable("docs_part")
    try {
      // through the library's catalog read path (S2/S3), not raw spark.read
      val pruned = io.Sources.table(spark, "docs_part", Some("pm = '2024-01'"))
      val p = plan(pruned)
      assert(p.contains("PartitionFilters: [") && p.contains("(pm"),
        s"expected partition filter in:\n$p")
      val scanLine = p.linesIterator.find(_.contains("FileScan")).getOrElse("")
      assert(!scanLine.contains("PushedFilters: [IsNotNull(pm)"),
        "partition predicate must prune, not scan-filter")
      assert(pruned.count() > 0)
    } finally spark.sql("DROP TABLE IF EXISTS docs_part")
  }

  test("run-date look-back predicate prunes catalog partitions (S2 + date windows)") {
    // the reference's push_down_predicate on partitioncreateddate built
    // from (partition_date, days_ago) — script/main.py:196-208,263-284
    val docs = Tables.documents(spark, sf)
      .withColumn("pcd", to_date(concat(lit("2024-05-"),
        lpad((col("doc_id") % 28 + 1).cast("string"), 2, "0"))))
    docs.write.mode("overwrite").partitionBy("pcd")
      .format("parquet").saveAsTable("docs_by_date")
    try {
      val dw = pipeline.DateWindows.resolve("2024-05-15", "10")
      val pruned = io.Sources.table(spark, "docs_by_date",
        Some(dw.lookbackPredicate("pcd")))
      val p = plan(pruned)
      assert(p.contains("PartitionFilters: [") && p.contains("(pcd"),
        s"expected partition pruning from the look-back predicate in:\n$p")
      // May 1 - 10 days = Apr 21 .. May 15 closed: partitions 1..15 of the
      // 28 qualify
      assert(pruned.select(countDistinct(col("pcd"))).first().getLong(0) == 15)
    } finally spark.sql("DROP TABLE IF EXISTS docs_by_date")
  }

  test("price-change branches reuse the upstream key partitioning (no new exchange)") {
    // Both W3 (key, price, in-month) and W4 (key, in-month) windows are
    // satisfied by data already hash-partitioned on the key —
    // hashpartitioning(k) clusters any superset key set — so the whole
    // operator must add ZERO exchanges: local sorts only. This is the
    // 100 TB-critical property: the month-history pass costs no extra
    // shuffle of the corpus.
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val base = Tables.lineitem(spark, sf)
        .select(col("l_orderkey").as("k"), col("l_extendedprice").as("price"),
          col("l_shipdate").cast("timestamp").as("ts"), col("l_linenumber").as("tb"))
        .repartition(col("k")) // stands in for stage 2's join partitioning
      val hist = ops.PriceChange.history(base, Seq(col("k")), col("price"), col("ts"),
        Seq(col("tb").desc), monthStart = "1996-01-01", monthEnd = "1996-02-01")
      val p = plan(hist)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      // exactly the one upstream repartition: both windows run in one pass
      // over the frame, and neither adds an exchange; a (k, price)
      // re-exchange for W3 would make this 2
      assert(exchanges == 1, s"windows added exchanges beyond the input's:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("consume pipeline: stage 3 runs shuffle-free over the aligned cache (exchange audit)") {
    // Stage 3 is one pass of windows keyed by (iteration, user_id): the
    // invalid-id maxima and both price-history row numbers. The CDC
    // repair's window (AsOfJoin.resurrectDeletes) hash-partitions the
    // stream on user_id, and that exchange is the only user_id exchange
    // the stages above it need: the repair window, stage 1's day-dedup
    // window, the stage-3 windows and everything up to modify's output run
    // over that layout. Machine-checked on the executed plan of
    // pipe_consume_e2e:
    //  (a) it holds no REPARTITION_BY_COL exchange and no exchange keyed
    //      on `iteration`, and
    //  (b) no shuffle exchange sits between the repair window's user_id
    //      exchange and any window above it or the plan's root (modify's
    //      output).
    import org.apache.spark.sql.catalyst.expressions.{Attribute, NamedExpression}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_COL, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.window.WindowExec
    // the nodes from `p` down to (not including) `anchor`
    def pathTo(anchor: SparkPlan)(p: SparkPlan): Option[Seq[SparkPlan]] =
      if (p eq anchor) Some(Nil)
      else p.children.iterator.flatMap(pathTo(anchor)).nextOption().map(p +: _)
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try withProductionInputs {
      val physical = SparkEntry.queries("pipe_consume_e2e")(spark, sf)
        .queryExecution.executedPlan
      val shuffles = physical.collect { case s: ShuffleExchangeExec => s }
      assert(!shuffles.exists(_.shuffleOrigin == REPARTITION_BY_COL),
        s"the pipeline repartitions explicitly:\n$physical")
      assert(!physical.toString.contains("Exchange hashpartitioning(iteration"),
        s"stage 3 re-shuffles on its iteration key:\n$physical")
      // the repair window is the one carrying the latest version (`__m`)
      val repair = physical.collect {
        case w: WindowExec if w.windowExpression.exists {
          case n: NamedExpression => n.name == "__m"
          case _ => false
        } => w
      }
      assert(repair.size == 1, s"expected one CDC repair window:\n$physical")
      val anchor = repair.head.collectFirst { case s: ShuffleExchangeExec => s }
        .getOrElse(fail(s"the repair window has no exchange below it:\n$physical"))
      assert((anchor.outputPartitioning match {
        case HashPartitioning(Seq(a: Attribute), _) => a.name == "user_id"
        case _ => false
      }), s"the repair window's exchange is not keyed on user_id alone:\n$anchor")
      val above = (physical +: physical.collect { case w: WindowExec => w })
        .flatMap(n => pathTo(anchor)(n).map(n -> _))
      // the root, the repair window, stage 1's day-dedup window and stage
      // 3's three windows
      assert(above.size == 6, s"expected 5 windows above the repair exchange:\n$physical")
      above.foreach { case (node, path) =>
        val reshuffles = path.collect { case s: ShuffleExchangeExec => s }
        assert(reshuffles.isEmpty,
          s"${node.nodeName} re-shuffles the repaired stream:\n${reshuffles.mkString("\n")}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("fuzzy-dedup verification runs the merge-scan intersect inside codegen") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = Tables.documents(spark, sf)
      val df = dedup.MinHashLSH.nearDuplicates(docs, col("doc_id"), col("text"),
        threshold = 0.95)
      val p = plan(df)
      assert(p.contains("sorted_intersect_size"),
        s"expected SortedIntersectSize in the verification projection:\n$p")
      assert(!p.contains("array_intersect"),
        "verification must not fall back to array_intersect")
      val codegen = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
      // the generated merge loop compares elements with getLong
      assert(codegen.contains("WholeStageCodegen"), s"no codegen stages:\n$codegen")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("near-dup path: the one cached prep relation holds the only split of the text") {
    import org.apache.spark.sql.catalyst.expressions.StringSplit
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    object aqe extends AdaptiveSparkPlanHelper
    // StringSplits in a plan's own nodes; a cached relation's plan is not a
    // child of its scan, so those are counted per relation below
    def splits(p: SparkPlan): Int =
      aqe.flatMap(p)(_.expressions).map(_.collect { case s: StringSplit => s }.size).sum
    def scanned(p: SparkPlan): Seq[InMemoryRelation] =
      aqe.collect(p) { case s: InMemoryTableScanExec => s.relation }
    dedup.CacheScope.withScope {
      val docs = Tables.documents(spark, sf)
      val df = dedup.MinHashLSH.nearDuplicates(docs, col("doc_id"), col("text"),
        threshold = 0.95)
      val top = df.queryExecution.executedPlan
      // every cached relation the plan reaches, nested ones included, once
      // each (one cache scanned twice is two relations with one builder)
      def reach(todo: List[InMemoryRelation],
                seen: List[InMemoryRelation]): List[InMemoryRelation] = todo match {
        case Nil => seen
        case r :: rest if seen.exists(_.cacheBuilder eq r.cacheBuilder) => reach(rest, seen)
        case r :: rest => reach(rest ++ scanned(r.cacheBuilder.cachedPlan), r :: seen)
      }
      val relations = reach(scanned(top).toList, Nil)
      assert(splits(top) == 0, s"the text is split outside the caches:\n$top")
      val perCache = relations.map(r => splits(r.cacheBuilder.cachedPlan)).filter(_ > 0)
      assert(perCache == Seq(1),
        s"expected one cached relation holding one split, got $perCache:\n" +
          relations.map(_.cacheBuilder.cachedPlan).mkString("\n---\n"))
    }
  }

  test("oversized-bucket guard plans a broadcast anti join (banded rows never reshuffle)") {
    val docs = Tables.documents(spark, sf)
    val sigs = dedup.MinHashLSH.signatures(docs, col("doc_id"), col("text"), 72, 1, 42L)
    val p = plan(dedup.MinHashLSH.candidatePairs(sigs, 6, 72))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"expected broadcast LeftAnti for the bucket cap in:\n$p")
  }

  test("simhash fingerprints stay a shuffle-free projection") {
    val docs = Tables.documents(spark, sf)
    val p = plan(dedup.SimHash.fingerprints(docs, col("doc_id"), col("text")))
    // the only exchange allowed is the loader's round-robin parallelization
    // guard — the operator itself must not introduce a hash shuffle
    assert(!p.contains("Exchange hashpartitioning"),
      s"fingerprints must not hash-shuffle:\n$p")
    assert(p.contains("simhash_fingerprint"),
      s"expected the codegen'd SimHashFingerprint expression in:\n$p")
  }

  test("whole-stage codegen compiles the cosine scoring stage (no fallback)") {
    // AQE's pre-execution explain reports 0 codegen subtrees — disable it
    // for the inspection so the final physical plan is visible.
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val emb = Tables.embeddings(spark, sf)
      val df = sim.Similarity.nearDupPairs(
        emb.filter(col("vec_id") % 10 === 0), emb, 0.4)
      val codegen = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
      assert(codegen.contains("WholeStageCodegen"), s"no codegen stages:\n$codegen")
      // the custom expression's generated loop is present in emitted code
      assert(codegen.contains("Math.sqrt"), "ArrayCosine did not reach generated code")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  /** Runs `body` with the testdata-only input repartition disabled, so the
    * audited plan is the production one (bucketed production inputs are
    * never round-robined — Tables.scala:27-34).
    */
  private def withProductionInputs[A](body: => A): A = {
    spark.conf.set("spark.graft.parallelizeInputs", "false")
    try body finally spark.conf.set("spark.graft.parallelizeInputs", "true")
  }

  test("quality/repetition/redaction/quantization stay shuffle-free projections") {
    // The corpus-quality operators are per-row: any Exchange in their plans
    // would be a 100 TB scale bug (a full-corpus shuffle for a map-only job).
    withProductionInputs {
      for (q <- Seq("t4_quality_filter", "t5_repetition", "t7_pii_redact",
          "s5_quantize_int8", "t44_blocklist", "t45_url_domain")) {
        val p = plan(SparkEntry.queries(q)(spark, sf))
        assert(!p.contains("Exchange"), s"$q plans a shuffle:\n$p")
      }
    }
  }

  test("stratified hash sample is a pushable-scan filter, no shuffle") {
    withProductionInputs {
      val p = plan(SparkEntry.queries("t6_hash_sample")(spark, sf))
      assert(!p.contains("Exchange"), s"sampling shuffled:\n$p")
      assert(p.contains("Filter"), s"expected a filter in:\n$p")
    }
  }

  test("market-basket pair mining: marginals broadcast, top-k is a bounded sort") {
    val p = plan(SparkEntry.queries("a5_copurchase_pairs")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be per-partition heaps, not a global sort:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"item marginals must broadcast against the pair table:\n$p")
  }

  test("BPE encode and rendezvous sharding are shuffle-free projections") {
    for (q <- Seq("t48_bpe_encode", "t49_rendezvous_shard")) {
      withProductionInputs {
        val p = plan(SparkEntry.queries(q)(spark, sf))
        assert(!p.contains("Exchange"), s"$q shuffled:\n$p")
      }
    }
  }

  test("sequential rules: bounded top-k, word marginals broadcast back") {
    val p = plan(SparkEntry.queries("a10_seq_rules")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be per-partition heaps, not a global sort:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the ante marginal must broadcast onto the pair table:\n$p")
  }

  test("trend slope: one data-scale exchange, map-side partial moments") {
    val p = plan(SparkEntry.queries("w25_trend_slope")(spark, sf))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"five-moment regression must be a single groupBy:\n$p")
    assert(p.contains("partial_"), s"moments must partial-aggregate:\n$p")
    assert(!p.contains("Window"), s"no window pass expected:\n$p")
  }

  test("percent-rank and Gini windows run over the value histogram, not raw rows") {
    // Both w28 and t66 compress to a (group, value)-count histogram FIRST
    // (one data-scale exchange), then window/rollup over distinct values
    // (one histogram-scale exchange on the group). A third exchange — or a
    // Window directly over the raw frame — would shuffle the corpus twice
    // at 100 TB.
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try withProductionInputs {
      for (q <- Seq("w28_percent_rank", "t66_gini")) {
        val p = plan(SparkEntry.queries(q)(spark, sf))
        val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
        assert(exchanges == 2, s"$q: expected 2 hash exchanges, got $exchanges:\n$p")
        assert(p.contains("partial_count"),
          s"$q: histogram must partial-aggregate map-side:\n$p")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("ship-latency percentiles: crossing-rule rollup, no data-scale Window") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try withProductionInputs {
      val p = plan(SparkEntry.queries("w26_ship_latency")(spark, sf))
      assert(p.contains("partial_count"),
        s"lag histogram must partial-aggregate before its shuffle:\n$p")
      // the only Window pass is over the (priority, lag)-distinct histogram
      // — its partition spec is the group key, never the raw join output
      val windows = "Window".r.findAllIn(p).length
      assert(windows <= 2, s"expected histogram-scale windows only:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("balanced sample broadcasts the quota table back onto the corpus") {
    val p = plan(SparkEntry.queries("t65_balanced_sample")(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"the strata-scale alloc table must broadcast, not shuffle the corpus:\n$p")
  }

  test("centroid drift: pairwise stage broadcasts label-scale centroids") {
    // The pairwise cosine runs over per-label centroid rows (label-bounded,
    // tiny) — a BroadcastNestedLoopJoin there is correct and cheap; what
    // must NOT happen is a cartesian of anything data-scale.
    val p = plan(SparkEntry.queries("s19_centroid_drift")(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"centroid pair stage must broadcast one side:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in drift plan:\n$p")
  }

  test("fuzzy match joins on deletion-neighborhood keys, never all-pairs") {
    // SymSpell candidates ride an equi-join on the generated key — any
    // non-equi fallback (BNLJ/cartesian) means the lossless key scheme
    // regressed to O(n²) string comparisons.
    val p = plan(SparkEntry.queries("j13_fuzzy_match")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy match must stay an equi-join on __key:\n$p")
    assert(p.contains("levenshtein"),
      s"exact verify must gate the candidate pairs:\n$p")
  }

  test("peak concurrency: the only single-partition pass is day-scale") {
    // The sweep-line is decomposed per day (window partitioned by day);
    // the serial cumulative pass runs over day-DISTINCT rows post-rollup.
    // A SinglePartition exchange below the day aggregate would serialize
    // the corpus.
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try withProductionInputs {
      val df = SparkEntry.queries("w27_peak_concurrency")(spark, sf)
      import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, SortAggregateExec, ObjectHashAggregateExec}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val physical = df.queryExecution.executedPlan
      val serial = physical.collect {
        case s: ShuffleExchangeExec if s.outputPartitioning.numPartitions == 1 => s
      }
      serial.foreach { s =>
        val belowAgg = s.collect {
          case a: HashAggregateExec => a
          case a: SortAggregateExec => a
          case a: ObjectHashAggregateExec => a
        }
        assert(belowAgg.nonEmpty,
          s"single-partition exchange feeds on un-aggregated (corpus-scale) rows:\n$physical")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("decontamination broadcasts the eval gram set — corpus never shuffles on gram text") {
    val p = plan(SparkEntry.queries("t67_decontaminate")(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"eval grams must broadcast onto the corpus gram stream:\n$p")
    // the only hash exchange is the per-doc rollup on the doc key
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try withProductionInputs {
      val p2 = plan(SparkEntry.queries("t67_decontaminate")(spark, sf))
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p2).length
      // exactly two: the doc-key rollup (data-scale) and the eval-side
      // gram distinct (benchmark-scale, feeds the broadcast) — a third
      // would mean corpus grams started shuffling
      assert(exchanges == 2,
        s"expected doc-rollup + eval-distinct exchanges only, got $exchanges:\n$p2")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("smoothing and funnel folds cost exactly one key shuffle") {
    // w30 (Holt-Winters) and a12 (windowed funnel) are sorted-fold
    // operators: the groupBy collect is the ONLY data-scale exchange;
    // the fold itself is a codegen'd HOF over the per-key array.
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try withProductionInputs {
      val pHw = plan(SparkEntry.queries("w30_holt_winters")(spark, sf))
      assert("Exchange hashpartitioning".r.findAllIn(pHw).length == 1,
        s"w30: expected the single key exchange:\n$pHw")
      // a12 adds the stage rollup — ≤ m+1 keys, partial-aggregated, so
      // its exchange moves per-user stage rows, never events
      val pWf = plan(SparkEntry.queries("a12_window_funnel")(spark, sf))
      assert("Exchange hashpartitioning".r.findAllIn(pWf).length == 2,
        s"a12: expected fold + stage-rollup exchanges:\n$pWf")
      assert(pWf.contains("partial_count"),
        s"a12: stage rollup must partial-aggregate:\n$pWf")
      // w31: the (key, period) rollup + the key-only window frame — two
      // exchanges, but the second moves the PRE-AGGREGATED daily frame,
      // never raw events (the Rolling scaladoc argument; same as w9)
      val p = plan(SparkEntry.queries("w31_rolling_median")(spark, sf))
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(exchanges == 2, s"w31: expected rollup+window exchanges, got $exchanges:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("readability and charset census stay shuffle-free projections") {
    withProductionInputs {
      for (q <- Seq("t69_readability", "t70_charset_profile")) {
        val p = plan(SparkEntry.queries(q)(spark, sf))
        assert(!p.contains("Exchange"), s"$q plans a shuffle:\n$p")
      }
    }
  }

  test("phrase search and RAKE assembly stay out of the generator-filter trap") {
    // scan-side phrase match: no OPERATOR shuffle (Tables.load's
    // round-robin input shaping on tiny files is not one) — and the
    // match filter pushes below it, pruning before the repartition
    val p1 = plan(SparkEntry.queries("t61_phrase_search")(spark, sf))
    assert(!p1.contains("Exchange hashpartitioning"),
      s"phrase scan shuffled:\n$p1")
    // RAKE: word-score table broadcasts, top-k bounded
    val p2 = plan(SparkEntry.queries("t64_rake_keywords")(spark, sf))
    assert(p2.contains("BroadcastHashJoin"),
      s"word scores must broadcast:\n$p2")
    assert(p2.contains("TakeOrderedAndProject"),
      s"RAKE top-k must be bounded:\n$p2")
  }

  test("interval union (w33) reuses ONE key partitioning across window and both rollups") {
    val p = plan(SparkEntry.queries("w33_interval_union")(spark, sf))
    val ex = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(ex == 1, s"expected 1 hash exchange, got $ex in:\n$p")
  }

  test("Pareto frontier (a13) serializes only cost-DISTINCT levels") {
    val p = plan(SparkEntry.queries("a13_pareto_front")(spark, sf))
    assert("Exchange SinglePartition".r.findAllIn(p).length == 1,
      s"expected exactly the level-window single-partition step in:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("ABC classes (a14) runs the level cumsum bucket-parallel (r14)") {
    val p = plan(SparkEntry.queries("a14_abc_classes")(spark, sf))
    // the level-scale cumulative window is PARTITIONED by the bit-length
    // bucket — the former global orderBy over distinct levels (≈ |keys|
    // for continuous values, on one task) is gone
    assert(p.contains("windowspecdefinition(__b"),
      s"expected the level window partitioned by the value bucket in:\n$p")
    // serial steps are histogram-bounded: the ≤129-row bucket-offset
    // window and the one-row total aggregate — nothing level-scale
    assert("Exchange SinglePartition".r.findAllIn(p).length == 2,
      s"expected exactly the two histogram-scale single-partition steps in:\n$p")
  }

  test("weighted quantiles (w34) costs the rollup shuffle plus the value-scale regroup only") {
    val p = plan(SparkEntry.queries("w34_weighted_quantiles")(spark, sf))
    val ex = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(ex == 2, s"expected 2 hash exchanges, got $ex in:\n$p")
  }

  test("snapshot drift (p13) is ONE scan — the flag is a predicate, not a join") {
    val p = plan(SparkEntry.queries("p13_snapshot_drift")(spark, sf))
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"expected a single orders scan in:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final cell aggregate in:\n$p")
  }

  test("link prediction (g8) cuts top-k without a global sort or cartesian") {
    val p = plan(SparkEntry.queries("g8_link_predict")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"expected TopK operator in:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("knn classify (s21) broadcasts the probe batch over one corpus scan") {
    val p = plan(SparkEntry.queries("s21_knn_classify")(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast NLJ probe scan in:\n$p")
  }

  test("lexicon scoring (t72) and sentence stats (t71) fold map-side: one shuffle each") {
    for (q <- Seq("t72_lexicon_score", "t71_sentence_stats")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      val ex = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(ex == 1, s"$q: expected 1 hash exchange, got $ex in:\n$p")
    }
  }

  test("nprobe sweep (s22): centroids broadcast as one packed row, no cartesian") {
    val p = plan(SparkEntry.queries("s22_nprobe_sweep")(spark, sf))
    assert(p.contains("BroadcastExchange"),
      s"the packed centroid row must broadcast for the assignment projection:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("Q3/Q10 top-k shapes (a15/a16): dims broadcast, TopK not a global sort") {
    for (q <- Seq("a15_top_unshipped", "a16_return_loss")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(p.contains("TakeOrderedAndProject"),
        s"$q: top-k must be per-partition heaps, not a global sort:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"$q: dimensions must ride to the fact as broadcasts:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q: cartesian in:\n$p")
    }
  }

  test("Q4 lateness EXISTS (a17) plans a semi join — fact rows never multiply") {
    val p = plan(SparkEntry.queries("a17_priority_late")(spark, sf))
    assert(p.contains("LeftSemi"), s"expected a left-semi join in:\n$p")
    assert(p.contains("PushedFilters: ["),
      s"the date-window filter must reach the orders scan:\n$p")
  }

  test("Q22 idle-rich (a18): one-row threshold broadcasts, activity is anti join") {
    val p = plan(SparkEntry.queries("a18_idle_rich")(spark, sf))
    assert(p.contains("LeftAnti"), s"expected a left-anti join in:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the one-row threshold must broadcast, never shuffle customers:\n$p")
  }

  test("Q16 supplier breadth (a19): brand exclusion prunes before the shuffle, TopK bounded") {
    val p = plan(SparkEntry.queries("a19_supplier_breadth")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be per-partition heaps, not a global sort:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the part dim must broadcast into the fact scan:\n$p")
  }

  test("Q15/Q19/Q7 (a22/a24/a25): one-row max and dims broadcast, filters pushed") {
    val p22 = plan(SparkEntry.queries("a22_top_supplier")(spark, sf))
    assert(p22.contains("PushedFilters: ["),
      s"the ship-date window must reach the lineitem scan:\n$p22")
    assert(p22.contains("BroadcastNestedLoopJoin") ||
      p22.contains("BroadcastHashJoin"),
      s"the one-row max must broadcast back, never sort globally:\n$p22")
    val p24 = plan(SparkEntry.queries("a24_bracket_revenue")(spark, sf))
    assert(p24.contains("BroadcastHashJoin"),
      s"the size-filtered part dim must broadcast:\n$p24")
    assert(!p24.contains("CartesianProduct"))
    val p25 = plan(SparkEntry.queries("a25_volume_shipping")(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p25).length >= 2,
      s"both nation maps must broadcast:\n$p25")
  }

  test("Q17 small-order revenue (a23): the part-average self-join shuffles once per side") {
    val p = plan(SparkEntry.queries("a23_small_order_rev")(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"per-part stats must partial-aggregate map-side:\n$p")
  }

  test("Q9/Q2/Q11 (a27/a28/a29): family prunes before the fact join, totals broadcast") {
    val p27 = plan(SparkEntry.queries("a27_product_profit")(spark, sf))
    assert(p27.contains("BroadcastHashJoin"),
      s"the name-gated part family must broadcast:\n$p27")
    assert(!p27.contains("CartesianProduct"))
    val p28 = plan(SparkEntry.queries("a28_min_cost_supplier")(spark, sf))
    assert(p28.contains("LeftSemi"),
      s"the region supplier set must gate as a semi join:\n$p28")
    assert(!p28.contains("CartesianProduct"))
    val p29 = plan(SparkEntry.queries("a29_important_parts")(spark, sf))
    assert(p29.contains("BroadcastNestedLoopJoin") ||
      p29.contains("BroadcastHashJoin"),
      s"the one-row total must broadcast back, never re-shuffle:\n$p29")
    assert(p29.contains("partial_sum"),
      s"part values must partial-aggregate map-side:\n$p29")
  }

  test("Q21/Q20 (a30/a31): one orderkey rollup, dims broadcast onto supplier-scale output") {
    val p30 = plan(SparkEntry.queries("a30_waiting_suppliers")(spark, sf))
    assert(!p30.contains("CartesianProduct"))
    assert(p30.contains("BroadcastHashJoin"),
      s"supplier/nation dims must broadcast:\n$p30")
    val p31 = plan(SparkEntry.queries("a31_dominant_suppliers")(spark, sf))
    assert(p31.contains("LeftSemi"),
      s"the PROMO family key set must gate the scan as a semi join:\n$p31")
    assert(p31.contains("PushedFilters: ["),
      s"the ship window must reach the lineitem scan:\n$p31")
    assert(!p31.contains("CartesianProduct"))
  }

  test("filtered vector search (s26): the label predicate reaches the corpus scan") {
    val p = plan(SparkEntry.queries("s26_filtered_topk")(spark, sf))
    assert(p.contains("PushedFilters: [") && p.contains("In(label"),
      s"the label filter must push into the embeddings scan:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("line dedup (t76): the boilerplate set broadcasts into an anti join") {
    val p = plan(SparkEntry.queries("t76_line_dedup")(spark, sf))
    assert(p.contains("LeftAnti"), s"expected a left-anti join in:\n$p")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"common lines must broadcast — per-doc rows never reshuffle:\n$p")
  }

  test("item neighbors (a35): marginals broadcast, no cartesian, ranked per item") {
    val p = plan(SparkEntry.queries("a35_item_neighbors")(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"both item-count marginals must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("curriculum (t78): the one-row boundary frame broadcasts; no global sort") {
    val p = plan(SparkEntry.queries("t78_curriculum")(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"quartile boundaries must broadcast onto the corpus:\n$p")
    // the only Sort operators may be window-local (inside a hash exchange),
    // never a rangepartitioning global order
    assert(!p.contains("Exchange rangepartitioning"),
      s"global sort found in:\n$p")
  }

  test("incremental states (p17/p18/p20): partial+final aggregates, no history join") {
    Seq("p17_incr_agg", "p18_incr_distinct", "p20_retract_agg").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert("HashAggregate".r.findAllIn(p).length >= 2 ||
        "ObjectHashAggregate".r.findAllIn(p).length >= 2 ||
        "SortAggregate".r.findAllIn(p).length >= 2,
        s"$q: expected partial+final aggregation in:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q: cartesian in:\n$p")
    }
  }

  test("span corruption (t79) is map-only: a Generate, zero exchanges") {
    val p = plan(SparkEntry.queries("t79_span_corruption")(spark, sf))
    assert(p.contains("Generate"), s"expected explode Generate in:\n$p")
    // the loader's round-robin spread of tiny test files is allowed; the
    // operator itself must add no hash/range exchange
    assert(!p.contains("Exchange hashpartitioning") &&
      !p.contains("Exchange rangepartitioning"),
      s"t79 must not shuffle — schedule is per-row arithmetic:\n$p")
  }

  test("CM estimate (p19): the grid broadcasts into the probe join") {
    val p = plan(SparkEntry.queries("p19_incr_topk")(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"the Depth×Width grid must broadcast:\n$p")
  }
}
