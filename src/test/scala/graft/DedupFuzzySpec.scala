package graft

import org.apache.spark.sql.functions._
import graft.dedup.{Jaccard, MinHashLSH, SimHash}

/** Fuzzy-dedup specs over planted near-duplicates. */
class DedupFuzzySpec extends SparkSpec {
  import spark.implicits._

  // 3 exact/near clusters + unrelated docs.
  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // ~dup of 1
    (3L, "a completely different document about spark query optimization and shuffles"),
    (4L, "a completely different document about spark query optimization and shuffles"), // exact dup of 3
    (5L, "unrelated text mentioning databases indexes transactions and consistency models"),
    (6L, "watermelon banana apple orange grape kiwi mango papaya lime lemon cherry plum")
  ).toDF("doc_id", "text")

  test("MinHashLSH finds planted near-dups and skips unrelated docs") {
    // bands=16 (r=4): detection prob at jaccard 0.85 is ~1-(1-0.52)^16 ≈ 1.
    val pairs = MinHashLSH.nearDuplicates(corpus, col("doc_id"), col("text"),
        threshold = 0.8, numHashes = 64, bands = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((3L, 4L)))
    assert(!pairs.exists(p => p._1 == 6L || p._2 == 6L))
  }

  test("dropNearSeen: history near-dups drop, batch-internal dups survive") {
    // history owns docs 1 and 3; the batch carries a near-dup of 1 (doc 2),
    // an exact dup of 3 (doc 4), an unrelated doc (5), and an exact
    // batch-INTERNAL pair (7, 8) that must BOTH survive — intra-batch
    // dedup is nearDuplicates'/Clusters' job, not the ingest gate's
    val history = corpus.filter(col("doc_id").isin(1L, 3L))
    val batch = corpus.filter(!col("doc_id").isin(1L, 3L, 6L)).unionByName(
      Seq((7L, "same exact boilerplate sentence repeated across the batch today ok"),
          (8L, "same exact boilerplate sentence repeated across the batch today ok"))
        .toDF("doc_id", "text"))
    val kept = MinHashLSH.dropNearSeen(batch, history, col("doc_id"), col("text"),
        threshold = 0.8, numHashes = 64, bands = 16)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(5L, 7L, 8L), s"got $kept")
  }

  test("property: dropNearSeen keeps exactly the batch docs nearDuplicates links to no history doc") {
    // one acceptance rule and, with the bucket cap off, one candidate rule:
    // a batch doc drops iff nearDuplicates over batch ∪ history pairs it
    // with a history doc. Planted: batch→history near-dups, batch-internal
    // and history-internal near-dups, and unrelated docs.
    val vocab = (0 until 300).map(i => s"w$i")
    for (seed <- Seq(7L, 20261019L)) {
      val rnd = new scala.util.Random(seed)
      def fresh(): Seq[String] = Seq.fill(24)(vocab(rnd.nextInt(vocab.size)))
      def nearCopy(words: Seq[String]): Seq[String] =
        words.updated(rnd.nextInt(words.size), vocab(rnd.nextInt(vocab.size)))
      val hist = Seq.fill(40)(fresh())
      val histDocs = hist ++ Seq.fill(5)(nearCopy(hist(rnd.nextInt(hist.size))))
      val batchBase = Seq.fill(30)(fresh())
      val batchDocs = batchBase ++
        Seq.fill(12)(nearCopy(hist(rnd.nextInt(hist.size)))) ++
        Seq.fill(6)(nearCopy(batchBase(rnd.nextInt(batchBase.size))))
      val history = histDocs.zipWithIndex
        .map { case (w, i) => (i.toLong, w.mkString(" ")) }.toDF("doc_id", "text")
      val batch = batchDocs.zipWithIndex
        .map { case (w, i) => (1000L + i, w.mkString(" ")) }.toDF("doc_id", "text")
      graft.dedup.CacheScope.withScope {
        val kept = MinHashLSH.dropNearSeen(batch, history, col("doc_id"), col("text"),
            threshold = 0.8, numHashes = 64, bands = 16, maxBucket = Int.MaxValue)
          .select("doc_id").as[Long].collect().toSet
        val pairs = MinHashLSH.nearDuplicates(batch.unionByName(history),
            col("doc_id"), col("text"), threshold = 0.8, numHashes = 64,
            bands = 16, maxBucket = Int.MaxValue)
          .select("id_a", "id_b").as[(Long, Long)].collect()
        def isHist(id: Long) = id < 1000L
        val linked = pairs.collect {
          case (a, b) if isHist(a) != isHist(b) => if (isHist(a)) b else a
        }.toSet
        val batchIds = (1000L until 1000L + batchDocs.size).toSet
        assert(linked.nonEmpty && linked.size < batchIds.size, s"seed $seed: $linked")
        assert(kept == batchIds -- linked, s"seed $seed")
      }
    }
  }

  test("MinHash signature is similarity-preserving: identical docs share all minhashes") {
    val sigs = MinHashLSH.signatures(corpus, col("doc_id"), col("text"),
        numHashes = 32, shingleN = 1, seed = 42L)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(3L) == sigs(4L))
    val agree12 = sigs(1L).zip(sigs(2L)).count { case (a, b) => a == b }
    assert(agree12 >= 24, s"near-dup docs should agree on most minhashes, got $agree12/32")
  }

  test("SimHash: exact dups have distance 0, near-dups small, unrelated large") {
    val fps = SimHash.fingerprints(corpus, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fps(3L), fps(4L)) == 0)
    assert(ham(fps(1L), fps(2L)) <= 8)
    assert(ham(fps(1L), fps(6L)) > 8)
  }

  test("SimHash pair join returns exactly the hamming<=3 pairs") {
    val pairs = SimHash.nearDuplicates(corpus, col("doc_id"), col("text"), maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val fps = SimHash.fingerprints(corpus, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (for {
      a <- fps.keys; b <- fps.keys if a < b
      if java.lang.Long.bitCount(fps(a) ^ fps(b)) <= 3
    } yield (a, b)).toSet
    assert(pairs == expected)
  }

  test("degenerate LSH buckets above maxBucket are dropped; others unaffected") {
    // 40 identical docs: every band hashes them into ONE bucket of 40 —
    // the adversarial boilerplate cluster that goes quadratic at scale
    val boiler = (1L to 40L).map(i => (i, "spam spam lovely spam wonderful spam"))
      .toDF("doc_id", "text")
    val capped = MinHashLSH.nearDuplicates(boiler, col("doc_id"), col("text"),
      threshold = 0.9, numHashes = 64, bands = 16, maxBucket = 10)
    assert(capped.count() == 0, "oversized buckets must be dropped")
    val uncapped = MinHashLSH.nearDuplicates(boiler, col("doc_id"), col("text"),
      threshold = 0.9, numHashes = 64, bands = 16, maxBucket = 5000)
    assert(uncapped.count() == 40L * 39 / 2)
    // normal corpus far below the cap: identical output with/without cap
    val a = MinHashLSH.nearDuplicates(corpus, col("doc_id"), col("text"),
      threshold = 0.8, numHashes = 64, bands = 16, maxBucket = 5000)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val b = MinHashLSH.nearDuplicates(corpus, col("doc_id"), col("text"),
      threshold = 0.8, numHashes = 64, bands = 16, maxBucket = Int.MaxValue)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(a == b)
  }

  test("sorted merge-scan intersect agrees with array_intersect") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 50).map { i =>
      val a = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong).distinct.sorted
      val b = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong).distinct.sorted
      (i, a, b)
    }
    import org.apache.spark.sql.graftfn.{asColumn, asExpression}
    val df = rows.toDF("i", "a", "b")
      .withColumn("fast", asColumn(graft.functions.SortedIntersectSize(
        asExpression(col("a")), asExpression(col("b")))))
      .withColumn("ref", size(array_intersect(col("a"), col("b"))))
    assert(df.filter(col("fast") =!= col("ref")).count() == 0)
    // string variant
    val sdf = rows.map { case (i, a, b) =>
      (i, a.map(x => f"t$x%03d").sorted, b.map(x => f"t$x%03d").sorted)
    }.toDF("i", "a", "b")
      .withColumn("fast", asColumn(graft.functions.SortedIntersectSize(
        asExpression(col("a")), asExpression(col("b")))))
      .withColumn("ref", size(array_intersect(col("a"), col("b"))))
    assert(sdf.filter(col("fast") =!= col("ref")).count() == 0)
  }

  test("exact Jaccard matches hand-computed similarity") {
    val sets = Jaccard.shingleSets(corpus, col("doc_id"), col("text"), 1)
    val pairs = Jaccard.similarPairs(sets, sets, threshold = 0.1)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(pairs((3L, 4L)) == 1.0)
    // docs 1,2: 14 tokens each, 12 distinct each (the x3... today/tonight);
    // intersection 11, union 13 -> 11/13
    assert(math.abs(pairs((1L, 2L)) - 11.0 / 13.0) < 1e-5)
  }

  test("containmentPairs catches subset dups Jaccard structurally misses") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "alpha beta gamma"),                                  // embedded quote
      (2L, "alpha beta gamma " + (1 to 20).map(i => s"w$i").mkString(" ")),
      (3L, (30 to 45).map(i => s"z$i").mkString(" "))).toDF("id", "text")
    val sets = Jaccard.shingleSets(docs, col("id"), col("text"), 1)
    val contained = Jaccard.containmentPairs(sets, sets, threshold = 0.9)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    assert(contained.contains((1L, 2L)) && contained((1L, 2L)) == 1.0,
      "doc 1 fully contained in doc 2")
    assert(!contained.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!contained.contains((1L, 1L)), "no self pairs")
    // the symmetric Jaccard of the same pair is 3/23 — invisible at 0.9
    val j = Jaccard.similarPairs(sets, sets, threshold = 0.9)
      .as[(Long, Long, Double)].collect()
    assert(!j.exists(r => r._1 == 1L && r._2 == 2L))
  }

  test("word n-gram shingles (n=3): order-sensitive similarity") {
    // docs 1,2 differ only in the last token: 12 trigrams each, the last
    // one differs on each side -> intersection 11, union 13
    val sets = Jaccard.shingleSets(corpus, col("doc_id"), col("text"), 3)
    val pairs = Jaccard.similarPairs(sets, sets, threshold = 0.1)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(pairs((3L, 4L)) == 1.0) // exact dup: all trigrams shared
    assert(math.abs(pairs((1L, 2L)) - 11.0 / 13.0) < 1e-5)
    // token-REORDERED docs share unigrams but not trigrams: build a pair
    // with identical vocabulary, different order
    val reordered = Seq(
      (7L, "alpha beta gamma delta epsilon zeta"),
      (8L, "zeta epsilon delta gamma beta alpha")).toDF("doc_id", "text")
    val s1g = Jaccard.shingleSets(reordered, col("doc_id"), col("text"), 1)
    val s3g = Jaccard.shingleSets(reordered, col("doc_id"), col("text"), 3)
    assert(Jaccard.similarPairs(s1g, s1g, 0.99).count() == 1) // unigram: identical
    assert(Jaccard.similarPairs(s3g, s3g, 0.01).count() == 0) // trigram: disjoint
  }

  test("thresholdSweep: cumulative counts, below-grid exclusion, top clamp") {
    // scores: 0.49 (below grid), 0.5, 0.52, 0.61, 0.95, 0.99 (clamps to top)
    val scored = Seq(0.49, 0.5, 0.52, 0.61, 0.95, 0.99).map(Tuple1(_))
      .toDF("jaccard")
    val out = Jaccard.thresholdSweep(scored, "jaccard", 500 to 950 by 50)
      .as[(Int, Long)].collect().toMap
    assert(out(500) == 5L, "0.49 must not count anywhere")
    assert(out(550) == 3L)
    assert(out(600) == 3L)
    assert(out(650) == 2L)
    assert(out(950) == 2L, "0.95 and the clamped 0.99")
  }

  test("sketchCalibration: identical docs land in the full-match bin at exact 1e6") {
    val probes = corpus.filter(col("doc_id") === 3L)
    val out = MinHashLSH.sketchCalibration(probes, corpus, col("doc_id"),
        col("text"), numHashes = 16, seed = 42L)
      .select("n_match", "est_ppm", "n_pairs", "avg_exact_ppm",
        "min_exact_ppm", "max_exact_ppm")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // doc 4 is an exact dup of probe 3: all 16 positions match, exact
    // Jaccard is exactly 1e6 ppm, and the estimate agrees
    val full = out(16L)
    assert(full._2 == 1000000L && full._4 == 1000000L &&
      full._5 == 1000000L && full._6 == 1000000L)
    // every pair lands in exactly one bin; bins cover all 5 non-self pairs
    assert(out.values.map(_._3).sum == 5L)
    // min ≤ avg ≤ max in every bin
    out.values.foreach { r => assert(r._5 <= r._4 && r._4 <= r._6) }
  }

  test("sketchCalibration signatures match an independent Scala fold") {
    // recompute one probe/corpus pair's match count in plain Scala with
    // the same Horner token hash and (a,b) family; the bin it lands in
    // must contain a pair
    val params = MinHashLSH.hashParams(16, 42L)
    def hash(t: String): Long =
      t.foldLeft(7L)((a, c) => (a * 131 + c.toLong) % 1000000007L)
    def sig(text: String): Seq[Long] = {
      val hs = text.toLowerCase.split(" ", -1).map(hash).distinct
      params.map { case (a, b) => hs.map(h => (h * a + b) % MinHashLSH.P).min }
    }
    val s1 = sig("the quick brown fox jumps over the lazy dog near the river bank today")
    val s2 = sig("the quick brown fox jumps over the lazy dog near the river bank tonight")
    val expectMatch = s1.zip(s2).count { case (x, y) => x == y }.toLong
    val probes = corpus.filter(col("doc_id") === 1L)
    val bins = MinHashLSH.sketchCalibration(probes,
        corpus.filter(col("doc_id") === 2L), col("doc_id"), col("text"),
        numHashes = 16, seed = 42L)
      .select("n_match").as[Long].collect().toSeq
    assert(bins == Seq(expectMatch))
  }

  // --- word shingles: one linear tokenization per document ----------------

  private def refShingles(text: String, n: Int): Seq[String] =
    if (text == null) Seq("")
    else {
      val toks = text.toLowerCase(java.util.Locale.ROOT).split(" ", -1).toSeq
      if (toks.size >= n) toks.sliding(n).map(_.mkString(" ")).toSeq
      else Seq(toks.mkString(" "))
    }

  test("property: wordShingles equals a split/slice/mkString reference") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val word = Gen.oneOf("the", "Fox", "ÉCOLE", "naïve", "ЖУК", "straße",
      "日本", "A", "x1")
    val sep = Gen.oneOf(" ", " ", " ", "  ", "   ")
    val text: Gen[String] = for {
      k <- Gen.choose(0, 7)
      ws <- Gen.listOfN(k, word)
      seps <- Gen.listOfN(k + 1, sep)
      lead <- Gen.oneOf(true, false)
      trail <- Gen.oneOf(true, false)
    } yield (if (lead) seps.head else "") +
      ws.zip(seps.tail).map { case (w, g) => w + g }.mkString.dropRight(
        if (trail || ws.isEmpty) 0 else seps.last.length)
    val random = (0 until 200).flatMap(i =>
      text.apply(Gen.Parameters.default, Seed(1000L + i)))
    val fixed = Seq("", " ", "   ", "a", "A  B", " lead", "trail ", "Ünï CODE",
      "one two", "one two three four")
    val texts: Seq[Option[String]] = (fixed ++ random).map(Some(_)) :+ None
    val df = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("i", "text")
    for (n <- Seq(1, 2, 3, 5)) {
      val got = df.select(col("i"), MinHashLSH.wordShingles(col("text"), n))
        .as[(Int, Seq[String])].collect().toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        assert(got(i) == refShingles(t.orNull, n), s"n=$n text=${t.map("'" + _ + "'")}")
      }
    }
  }

  test("wordShingles splits each document once, outside every lambda") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, LambdaFunction,
      StringSplit}
    // one entry per StringSplit: whether it sits under a lambda body
    def splits(e: Expression, inLambda: Boolean): Seq[Boolean] = e match {
      case s: StringSplit => inLambda +: s.children.flatMap(splits(_, inLambda))
      case l: LambdaFunction => l.children.flatMap(splits(_, inLambda = true))
      case _ => e.children.flatMap(splits(_, inLambda))
    }
    for (n <- Seq(1, 3)) {
      val e = corpus.select(MinHashLSH.wordShingles(col("text"), n))
        .queryExecution.analyzed.expressions.head
      assert(splits(e, inLambda = false) == Seq(false), s"n=$n:\n$e")
    }
  }

  test("signatures equal the inline hash-every-shingle formula on sf0.001 documents") {
    import org.apache.spark.sql.graftfn.{asColumn, asExpression}
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val params = MinHashLSH.hashParams(72, 42L)
    def collectSigs(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Seq[Long])].collect().toMap
    for (n <- Seq(1, 3)) {
      val inline = docs.select(col("doc_id"),
        asColumn(graft.functions.MinHashSignature(
          asExpression(array_distinct(transform(MinHashLSH.wordShingles(col("text"), n),
            s => pmod(xxhash64(s), lit(MinHashLSH.P))))),
          params.map(_._1).toArray, params.map(_._2).toArray, MinHashLSH.P)))
      val got = collectSigs(MinHashLSH.signatures(docs, col("doc_id"), col("text"),
        72, n, 42L))
      assert(got.nonEmpty)
      assert(got == collectSigs(inline), s"n=$n")
    }
  }
}
