package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding APPLICATION (Sennrich et al. 2016): encode text
  * against a FIXED, rank-ordered merge table — the tokenizer-apply step a
  * training-data pipeline runs at corpus scale after the (offline,
  * single-machine) BPE training produced the merges.
  *
  * Correctness of the rank-ascending single sweep: trained merge tables
  * are CONSTRUCTIVE — a pair at rank r references only symbols that are
  * single characters or outputs of merges at ranks < r (that is how BPE
  * training builds them). Under that invariant, applying each merge once
  * in rank order IS the full iterate-to-fixpoint BPE: a merge at rank r
  * creates the new symbol `ab`, and `ab` can only ever participate in
  * pairs of rank > r — which the sweep has not reached yet. No earlier
  * pair can newly appear (merging replaces two adjacent symbols with one;
  * it never makes two OLD symbols adjacent). [[validate]] enforces the
  * invariant instead of assuming it. Within one rank, occurrences merge
  * greedy-leftmost non-overlapping — and a re-match against the freshly
  * merged symbol is impossible (`ab = a` would need `b` empty), so one
  * left-to-right pass per rank is also exhaustive for that rank.
  *
  * Plan shape: a PURE PROJECTION — zero shuffles, zero joins — so 100 TB
  * of text encodes embarrassingly parallel. The merge table rides as ONE
  * codegen reference object inside a native expression
  * ([[BpeEncodeWords]]), keeping the PLAN constant-size at production
  * vocabularies (16k–50k merges) where the earlier one-fold-per-rank
  * design walled in the analyzer; the fold chain survives as the
  * spec-pinned reference implementation ([[encodeFolded]]).
  */
object Bpe {

  /** Distributed BPE TRAINING (Sennrich et al. 2016, learn step): find the
    * `nMerges` highest-count adjacent symbol pairs, greedily, each round
    * merging the winner corpus-wide. Returns the learned merge table as
    * `(lhs, rhs, pairCountAtSelection)` in rank order — ready to feed
    * [[encode]] (the table is constructive by construction: rank r only
    * ever merges symbols that exist after ranks < r).
    *
    * Scale shape: ONE corpus-scale shuffle total (the initial word-count
    * aggregation); every training round then runs over the VOCABULARY-
    * scale `(word-symbols, freq)` table — at 100 TB of text that table is
    * ~10⁷ rows regardless of corpus size, cached once and re-projected
    * per round. Per round: one vocab-scale partial-aggregated pair count
    * ending in `TakeOrderedAndProject(1)`, then a codegen'd merge pass
    * (the [[mergePass]] fold) over the cached table. The per-round 1-row
    * driver read is CONTROL FLOW, not a data path — the merge table is
    * driver-resident by definition (it compiles into the encoder's
    * expression tree), the same class as the IVF dim probe and the
    * connected-components convergence check.
    *
    * Ties break deterministically: highest count, then (lhs, rhs)
    * lexicographic — a total order, since pairs are grouped unique.
    * Rounds stop early when no pair reaches `minFreq` (vocabulary
    * exhausted / fully merged).
    */
  def train(df: DataFrame, text: Column, nMerges: Int,
            minFreq: Long = 1L): Seq[(String, String, Long)] = {
    require(nMerges >= 1, "nMerges must be >= 1")
    import org.apache.spark.storage.StorageLevel
    val words = df
      .select(explode(filter(split(lower(text), " "),
        w => length(w) > 0)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(filter(split(col("w"), ""), c => length(c) > 0).as("syms"),
        col("freq"))
    var state = words.persist(StorageLevel.MEMORY_AND_DISK)
    val learned = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    var exhausted = false
    // rounds aggregate the vocabulary table (distinct words) — size their
    // shuffles from its measured count (the count doubles as the cache
    // fill, at full parallelism; see AdaptiveIter; no-op at data scale)
    val nWords = state.count()
    graft.ops.AdaptiveIter.sizedRounds(df.sparkSession, nWords, rowBytes = 192) {
    while (learned.size < nMerges && !exhausted) {
      val top = state
        .select(col("freq"), explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("cnt"))
        .orderBy(desc("cnt"), asc("a"), asc("b"))
        .limit(1).collect()
      top.headOption.filter(_.getLong(2) >= minFreq) match {
        case None => exhausted = true
        case Some(row) =>
          val (a, b, cnt) = (row.getString(0), row.getString(1), row.getLong(2))
          learned += ((a, b, cnt))
          val next = state
            .select(mergePass(col("syms"), a, b).as("syms"), col("freq"))
            .persist(StorageLevel.MEMORY_AND_DISK)
          next.count() // materialize before dropping the parent
          state.unpersist(blocking = false)
          state = next
      }
    }
    }
    state.unpersist(blocking = false)
    learned.toSeq
  }

  /** [[trainBatched]] truncates the state frame's LOGICAL lineage
    * (localCheckpoint) every this many rounds. Each round's state is
    * `select(mergePass…)` over the previous round's plan, so without
    * truncation the analyzed tree grows by `batch` fold expressions per
    * round and analysis/canonicalization cost per round grows linearly —
    * quadratic over a 4k-merge run (the connected-components lineage
    * hazard, in trainer form). 16 bounds the tree at ~16·batch folds;
    * superseded checkpoints' blocks are freed as soon as the next one
    * materializes.
    */
  private val CheckpointEvery = 16

  /** Batched BPE training (round 10; the standard scale practice — e.g.
    * SentencePiece's BPE trainer merges many pairs per scan): each round
    * selects the TOP-`batch` mutually symbol-disjoint pairs from one pair
    * count and applies them in one composed projection, cutting driver
    * round-trips from O(merges) to roughly O(merges/batch). At a real 32k
    * vocabulary that is ~4k driver turns instead of 32k — the difference
    * between an overnight trainer and a practical one.
    *
    * Contract vs [[train]] (exact serial greedy):
    *  - `batch = 1` IS serial — identical selection, identical table (the
    *    spec pins this), so the oracle path can stay on either.
    *  - `batch > 1` is a deliberately different schedule: within a batch,
    *    later picks ignore pairs CREATED by earlier picks (those can only
    *    enter at the next round's count). Symbol-disjointness makes the
    *    batch's counts exact (merging (a,b) cannot change the count of any
    *    pair sharing no symbol with it), so every recorded count is the
    *    true corpus count at selection time, and the table stays
    *    CONSTRUCTIVE ([[validate]] passes: batch outputs are only
    *    referenced by later rounds) — [[encode]] semantics are unaffected.
    *
    * Selection per round is deterministic: candidates ordered (count desc,
    * lhs asc, rhs asc); a candidate joins the batch iff neither symbol
    * appears in an earlier pick. The driver fetch over-samples a FIXED
    * 4×batch pool so conflicts rarely starve a batch (a starved batch just
    * means one more round, never a wrong table) — fixed, so the t81 oracle
    * can replay the exact pool bound in SQL.
    */
  def trainBatched(df: DataFrame, text: Column, nMerges: Int,
                   minFreq: Long = 1L, batch: Int = 8): Seq[(String, String, Long)] = {
    require(nMerges >= 1, "nMerges must be >= 1")
    require(batch >= 1, "batch must be >= 1")
    import org.apache.spark.storage.StorageLevel
    val words = df
      .select(explode(filter(split(lower(text), " "),
        w => length(w) > 0)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(filter(split(col("w"), ""), c => length(c) > 0).as("syms"),
        col("freq"))
    var state = words.persist(StorageLevel.MEMORY_AND_DISK)
    val learned = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    var exhausted = false
    var rounds = 0
    var lastCp: Option[DataFrame] = None
    // same sizing as [[train]]: vocabulary-table rounds, measured count
    val nWords = state.count()
    graft.ops.AdaptiveIter.sizedRounds(df.sparkSession, nWords, rowBytes = 192) {
    while (learned.size < nMerges && !exhausted) {
      val want = (nMerges - learned.size).min(batch)
      val top = state
        .select(col("freq"), explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("cnt"))
        .filter(col("cnt") >= minFreq)
        .orderBy(desc("cnt"), asc("a"), asc("b"))
        .limit(batch * 4).collect()
      // greedy symbol-disjoint selection, in count order
      val used = scala.collection.mutable.Set[String]()
      val picks = top.iterator.flatMap { row =>
        val (a, b, cnt) = (row.getString(0), row.getString(1), row.getLong(2))
        if (!used(a) && !used(b)) { used += a; used += b; Some((a, b, cnt)) }
        else None
      }.take(want).toSeq
      if (picks.isEmpty) exhausted = true
      else {
        learned ++= picks
        // ONE composed projection applies the whole batch (Catalyst
        // collapses the fold into a single codegen'd pass over the
        // vocab-scale table) — one materialization per ROUND, not per merge
        val merged = picks.foldLeft(col("syms")) {
          case (c, (a, b, _)) => mergePass(c, a, b)
        }
        val truncate = (rounds + 1) % CheckpointEvery == 0
        val projected = state.select(merged.as("syms"), col("freq"))
        val next =
          if (truncate) projected.localCheckpoint(false) // lazy: one job below
          else projected.persist(StorageLevel.MEMORY_AND_DISK)
        next.count() // materialize before dropping the parent
        state.unpersist(blocking = false)
        if (truncate) {
          // the new checkpoint is materialized — the previous one's blocks
          // are dead (intermediate persisted rounds were materialized too)
          lastCp.foreach(graft.dedup.Clusters.dropCheckpointBlocks)
          lastCp = Some(next)
        }
        state = next
        rounds += 1
      }
    }
    }
    state.unpersist(blocking = false)
    lastCp.foreach(graft.dedup.Clusters.dropCheckpointBlocks)
    System.err.println(s"[bpe] trainBatched: ${learned.size} merges in " +
      s"$rounds rounds (batch=$batch)")
    learned.toSeq
  }

  /** Enforce the constructive invariant: every multi-character symbol a
    * rank-r pair references must be the output of some merge at rank < r.
    */
  def validate(merges: Seq[(String, String)]): Unit = {
    val built = scala.collection.mutable.Set[String]()
    merges.zipWithIndex.foreach { case ((a, b), r) =>
      Seq(a, b).foreach { sym =>
        require(sym.nonEmpty, s"rank $r: empty symbol")
        require(sym.length == 1 || built.contains(sym),
          s"rank $r references '$sym', which no earlier merge builds — " +
            "not a constructively-ordered (trained) merge table")
      }
      built += a + b
    }
  }

  /** One greedy-leftmost merge pass of (a, b) → ab over a symbol array.
    * Fold state: (emitted symbols, one pending symbol) — the pending slot
    * is what lets the pass see adjacency without indexed access.
    */
  private def mergePass(arr: Column, a: String, b: String): Column = {
    def st(acc: Column, pend: Column) =
      struct(acc.as("acc"), pend.as("pend"))
    aggregate(arr,
      st(array().cast("array<string>"), lit(null).cast("string")),
      (s, t) => when(s.getField("pend").isNull,
          st(s.getField("acc"), t))
        .when(s.getField("pend") === a && t === b,
          st(concat(s.getField("acc"), array(lit(a + b))),
            lit(null).cast("string")))
        .otherwise(st(concat(s.getField("acc"),
          array(s.getField("pend"))), t)),
      s => when(s.getField("pend").isNull, s.getField("acc"))
        .otherwise(concat(s.getField("acc"), array(s.getField("pend")))))
  }

  /** Encode one word column via the FOLD CHAIN — one [[mergePass]] per
    * rank compiled into the expression tree. This is the reference
    * implementation the native path ([[BpeEncodeWords]]) is proven equal
    * to (BpeSpec property), and it stays correct at any table size — but
    * its PLAN grows with the table (16k merges = a 16k-deep per-word
    * expression chain: analyzer, canonicalization, and codegen all wall
    * before data is read), so [[encode]] no longer rides it. Kept public
    * for the spec cross-check and the fold-vs-native scale harness.
    */
  def encodeWord(word: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(filter(split(word, ""), c => length(c) > 0)) {
      case (cur, (a, b)) => mergePass(cur, a, b)
    }

  /** Per-document BPE: `n_tokens` (words), `bpe_text` (space-joined
    * subwords), `n_bpe_tokens` — the corpus-scale tokenizer-apply report.
    *
    * Empty words (consecutive/leading/trailing spaces, empty text) are
    * dropped BEFORE encoding on both the engine and oracle sides: an empty
    * word encodes to zero subwords, so keeping it would make `n_tokens`
    * count phantom words while contributing nothing to `bpe_text` — and the
    * contract must not depend on corpus whitespace hygiene.
    */
  def encode(df: DataFrame, id: Column, text: Column,
             merges: Seq[(String, String)]): DataFrame = {
    validate(merges)
    // the merge table rides as ONE native-expression reference object
    // (plan size O(1) in table size — the 16k-merge production regime),
    // proven fold-equal by BpeSpec; lower/split/empty-drop stay built-in
    // so their semantics are byte-identical to the fold path's
    import org.apache.spark.sql.graftfn
    df.select(id,
        filter(split(lower(text), " "), w => length(w) > 0).as("__w"))
      .select(id, size(col("__w")).as("n_tokens"),
        graftfn.asColumn(BpeEncodeWords(
          graftfn.asExpression(col("__w")), merges)).as("__enc"))
      .select(id, col("n_tokens"),
        concat_ws(" ", col("__enc")).as("bpe_text"),
        size(col("__enc")).as("n_bpe_tokens"))
  }

  /** The fold-chain [[encode]] (per-rank `aggregate` passes compiled into
    * the plan) — the reference implementation, byte-identical output to
    * [[encode]] on any valid table. Its plan grows linearly with the merge
    * table, so it is for specs and the scale A/B harness, not production
    * apply. See [[encodeWord]].
    */
  def encodeFolded(df: DataFrame, id: Column, text: Column,
                   merges: Seq[(String, String)]): DataFrame = {
    validate(merges)
    df.select(id,
        filter(split(lower(text), " "), w => length(w) > 0).as("__w"))
      .select(id, size(col("__w")).as("n_tokens"),
        flatten(transform(col("__w"), w => encodeWord(w, merges)))
          .as("__enc"))
      .select(id, col("n_tokens"),
        concat_ws(" ", col("__enc")).as("bpe_text"),
        size(col("__enc")).as("n_bpe_tokens"))
  }
}
