package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ops.{Dedup, Reshape}

/** Property-based checks (SURVEY §5.3): scalacheck generators driven
  * directly (no scalatestplus bridge in the offline cache), fixed seed for
  * reproducibility.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(42L + i)))

  // --- nestSchema round-trip ------------------------------------------------

  private val segment: Gen[String] = for {
    len <- Gen.choose(1, 6)
    cs <- Gen.listOfN(len, Gen.alphaLowerChar)
  } yield cs.mkString

  /** Random prefix-free flat column-name sets: no name is a segment-prefix
    * of another (nestSchema rejects those as ambiguous, like the
    * reference's dict tree).
    */
  private val flatColumns: Gen[Seq[String]] = for {
    n <- Gen.choose(1, 8)
    names <- Gen.listOfN(n, for {
      depth <- Gen.choose(1, 4)
      segs <- Gen.listOfN(depth, segment)
    } yield segs.mkString("_"))
  } yield {
    val distinct = names.distinct
    distinct.filterNot(a => distinct.exists(b =>
      b != a && (b + "_").startsWith(a + "_")))
  }

  test("property: flattenSchema(nestSchema(df)) == df for arbitrary flat schemas") {
    samples(flatColumns, 25).filter(_.nonEmpty).foreach { cols =>
      val row = org.apache.spark.sql.Row.fromSeq(cols.indices.map(_.toLong))
      val schema = org.apache.spark.sql.types.StructType(cols.map(c =>
        org.apache.spark.sql.types.StructField(c, org.apache.spark.sql.types.LongType)))
      val df = spark.createDataFrame(
        java.util.Collections.singletonList(row), schema)
      val back = Reshape.flattenSchema(Reshape.nestSchema(df))
      assert(back.columns.toSet == df.columns.toSet, s"columns differ for $cols")
      assert(back.select(cols.map(col): _*).collect().head ==
        df.select(cols.map(col): _*).collect().head, s"values differ for $cols")
    }
  }

  // --- topOnePerKey invariants ---------------------------------------------

  private val keyedRows: Gen[List[(Int, Int, Int)]] =
    Gen.listOf(for {
      k <- Gen.choose(0, 5)
      ord <- Gen.choose(0, 100)
      payload <- Gen.choose(0, 1000)
    } yield (k, ord, payload))

  test("property: topOnePerKey emits <=1 row per key, each a member of input, max ord wins") {
    samples(keyedRows, 25).filter(_.nonEmpty).foreach { rows =>
      val df = rows.toDF("k", "ord", "payload")
      // total order: (ord desc, payload desc) — payload breaks ord ties
      val out = Dedup.topOnePerKey(df, Seq(col("k")),
        Seq(col("ord").desc, col("payload").desc)).collect()
      val byKey = rows.groupBy(_._1)
      assert(out.length == byKey.size, "exactly one row per distinct key")
      out.foreach { r =>
        val t = (r.getInt(0), r.getInt(1), r.getInt(2))
        assert(rows.contains(t), s"output row $t not in input")
        val expected = byKey(t._1).maxBy(x => (x._2, x._3))
        assert(t == expected, s"wrong pick for key ${t._1}: $t vs $expected")
      }
    }
  }

  // --- asOf matches a naive per-row reference ------------------------------

  private val asOfCase: Gen[(List[(Int, Int, Int)], List[(Int, Int, Int, Int)])] =
    for {
      nL <- Gen.choose(1, 15)
      nR <- Gen.choose(0, 25)
      lefts <- Gen.listOfN(nL, for {
        k <- Gen.choose(0, 3); ts <- Gen.choose(0, 20); id <- Gen.choose(0, 1000)
      } yield (k, ts, id))
      rights <- Gen.listOfN(nR, for {
        k <- Gen.choose(0, 3); ts <- Gen.choose(0, 20)
        rid <- Gen.choose(0, 1000); v <- Gen.choose(0, 99)
      } yield (k, ts, rid, v))
    } yield (lefts, rights)

  test("property: asOf equals the naive latest-right-at-or-before reference") {
    samples(asOfCase, 20).foreach { case (leftsRaw, rights) =>
      // unique left ids — duplicates would make row identity ambiguous
      val lefts = leftsRaw.zipWithIndex.map { case ((k, ts, _), i) => (k, ts, i) }
      val ldf = lefts.map { case (k, ts, id) =>
        (k, new java.sql.Timestamp(ts * 1000L), id)
      }.toDF("k", "lts", "lid")
      val rdf = rights.map { case (k, ts, rid, v) =>
        (k, new java.sql.Timestamp(ts * 1000L), rid, v)
      }.toDF("rk", "rts", "rid", "v")

      val got = graft.ops.AsOfJoin.asOf(ldf, rdf, Seq(("k", "rk")),
          leftTs = "lts", rightTs = "rts", tiebreak = Seq("rid"))
        .select("lid", "rid", "v").collect()
        .map(r => r.getInt(0) -> (r.getInt(1), r.getInt(2))).toMap

      val expected = lefts.flatMap { case (k, lts, lid) =>
        val matches = rights.filter(r => r._1 == k && r._2 <= lts)
        if (matches.isEmpty) None
        else {
          val best = matches.maxBy(r => (r._2, r._3))
          Some(lid -> (best._3, best._4))
        }
      }.toMap
      assert(got == expected, s"lefts=$lefts rights=$rights")
    }
  }

  // --- sniffImage total on arbitrary bytes ----------------------------------

  test("property: sniffImage never throws — garbage, truncations, forged magics") {
    val magics = Seq[Array[Byte]](
      Array(0x89.toByte, 'P', 'N', 'G'), "GIF8".getBytes, "BM".getBytes,
      Array(0xff.toByte, 0xd8.toByte), Array.empty)
    val payload: Gen[Array[Byte]] = for {
      magic <- Gen.oneOf(magics)
      n <- Gen.choose(0, 64)
      rest <- Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue))
    } yield magic ++ rest
    samples(payload, 200).foreach { bytes =>
      // must classify or degrade, never throw — this parser runs on every
      // blob of an untrusted 100 TB corpus
      val (fmt, w, h) = graft.multimodal.Multimodal.sniffImage(bytes)
      assert(fmt == "unknown" || (w >= Int.MinValue && h >= Int.MinValue))
    }
  }

  // --- dropPaths total on arbitrary dotted paths ----------------------------

  test("property: dropPaths tolerates unknown/non-struct paths and only removes") {
    val name: Gen[String] = Gen.oneOf("a", "b", "s", "s.x", "s.y", "s.zz",
      "nope", "nope.deep", "a.b.c", "b.x")
    val paths: Gen[List[String]] = Gen.listOf(name)
    val df = Seq((1, 2, (3, 4))).toDF("a", "b", "s")
      .select(col("a"), col("b"), col("s").cast("struct<x:int,y:int>"))
    samples(paths, 60).foreach { ps =>
      val out = Reshape.dropPaths(df, ps) // paths into int columns are no-ops
      assert(out.columns.toSet.subsetOf(df.columns.toSet))
      out.collect() // analysis + execution must both survive
    }
  }

  // --- whenChain matches a plain Scala fold --------------------------------

  test("property: whenChain equals reference map lookup with default") {
    val mapping = Seq("a" -> "A", "b" -> "B", "c" -> "C")
    val inputs: Gen[List[String]] =
      Gen.listOf(Gen.oneOf("a", "b", "c", "d", "e", ""))
    samples(inputs, 20).filter(_.nonEmpty).foreach { vals =>
      val df = vals.toDF("v")
      val out = df.select(Reshape.whenChain(col("v"),
          mapping.map { case (k, s) => k -> lit(s) }, lit("DEF")).as("r"))
        .as[String].collect().toSeq
      val expected = vals.map(v => mapping.toMap.getOrElse(v, "DEF"))
      assert(out == expected)
    }
  }

  // --- corpus-quality operators on hostile text -----------------------------

  /** Strings that stress the tokenizers: empty, whitespace runs, unicode,
    * PII-shaped fragments, punctuation soup.
    */
  private val hostileText: Gen[String] = Gen.oneOf(
    Gen.const(""),
    Gen.const("   "),
    Gen.const("éü中文 😀 mixed"),
    Gen.listOfN(30, Gen.oneOf(Gen.alphaNumStr.map(_.take(5)),
      Gen.oneOf("a@b.co", "1.2.3.4", "+1-555-1234", "...", "@@", " ")))
      .map(_.mkString(" ")),
    Gen.asciiPrintableStr.map(_.take(80)))

  test("property: quality/repetition/chunk/redact never throw and hold invariants") {
    val texts = samples(hostileText, 40).distinct
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val q = graft.text.QualityFilters.qualityFilter(df, col("doc_id"),
      col("text"), Seq("the", "a")).collect()
    assert(q.length == texts.length)
    val rep = graft.text.QualityFilters.repetitionMetrics(df, col("doc_id"),
      col("text")).collect()
    rep.foreach { r =>
      for (c <- Seq("dup_token_frac", "top_token_frac", "top_bigram_frac")) {
        val v = r.getAs[Double](c)
        assert(v >= 0.0 && v <= 1.0, s"$c out of range: $v")
      }
    }
    // chunk with stride == chunkSize partitions the token sequence exactly
    val rebuilt = graft.text.Chunking.chunk(df, col("doc_id"), col("text"),
        chunkSize = 7, stride = 7)
      .groupBy("doc_id")
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("chunk_id"), col("chunk_text")))),
        s => s.getField("chunk_text"))).as("r"))
      .as[(Long, String)].collect().toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(rebuilt(i.toLong) == t.toLowerCase.split(" ", -1).mkString(" "))
    }
    // redaction is idempotent
    val once = df.select(col("doc_id"),
      graft.text.QualityFilters.redactPii(col("text")).as("r"))
    val twice = once.select(col("doc_id"),
      graft.text.QualityFilters.redactPii(col("r")).as("r"))
    assert(once.collect().toSeq == twice.collect().toSeq)
  }

  // --- triangle-salted self-pairs == naive, any salt, random data ----------

  private val bucketedRows: Gen[(List[(Int, Long, Int)], Int)] = for {
    n <- Gen.choose(0, 60)
    rows <- Gen.listOfN(n, for {
      b <- Gen.choose(0, 3)            // few buckets → quadratic hot spots
      id <- Gen.choose(0L, 40L)        // collisions exercised by dedup below
      p <- Gen.choose(0, 999)
    } yield (b, id, p))
    salt <- Gen.choose(1, 9)
  } yield (rows.groupBy(_._2).values.map(_.head).toList, salt) // unique ids

  test("property: bucketedSelfPairs equals the naive bucket self-join for any salt") {
    samples(bucketedRows, 25).foreach { case (rows, salt) =>
      val df = rows.toDF("b", "id", "p")
      val naive = (for {
        x <- rows; y <- rows
        if x._1 == y._1 && x._2 < y._2
      } yield (x._1, x._2, y._2, x._3, y._3)).toSet
      val got = graft.ops.ScaleJoins.bucketedSelfPairs(df, Seq("b"), "id",
          Seq("p"), salt)
        .as[(Int, Long, Long, Int, Int)].collect().toSet
      assert(got == naive, s"salt=$salt rows=${rows.size}: salted pair set diverged")
    }
  }

  // --- greedy packing invariants on random size sequences ------------------

  private val packCase: Gen[(List[(Long, Int)], Int)] = for {
    n <- Gen.choose(1, 40)
    sizes <- Gen.listOfN(n, Gen.choose(1, 300))
    cap <- Gen.choose(16, 256)
  } yield (sizes.zipWithIndex.map { case (s, i) => (i.toLong, s) }, cap)

  test("property: packBinsGreedy — hard bound, every doc once, bins contiguous & maximal") {
    samples(packCase, 25).foreach { case (docs, cap) =>
      val df = docs.map { case (id, s) => (id, "shard", s) }.toDF("id", "sh", "nt")
      val out = graft.text.Chunking.packBinsGreedy(df, col("id"), col("sh"),
          col("nt"), cap)
        .select("id", "n_tokens", "bin_id")
        .as[(Long, Long, Long)].collect().sortBy(_._1)
      // every doc exactly once, size preserved
      assert(out.map(_._1).toSeq == docs.map(_._1))
      assert(out.map(_._2).toSeq == docs.map(_._2.toLong))
      val byBin = out.groupBy(_._3).toSeq.sortBy(_._1)
      // bin ids are contiguous from 0
      assert(byBin.map(_._1) == (0L until byBin.size))
      byBin.foreach { case (bin, members) =>
        val fill = members.map(_._2).sum
        // hard capacity bound: only a lone oversized doc may exceed
        assert(fill <= cap || members.size == 1,
          s"cap=$cap bin=$bin overfilled to $fill with ${members.size} docs")
        // greedy-maximal: the next bin's FIRST doc would have overflowed
        val next = byBin.find(_._1 == bin + 1)
        next.foreach { case (_, nm) =>
          val firstNext = nm.minBy(_._1)._2
          assert(fill + firstNext > cap,
            s"cap=$cap bin=$bin closed at $fill though next doc ($firstNext) fits")
        }
      }
    }
  }

  test("property: winnowing equals a reference implementation on random texts") {
    // small token alphabet -> plenty of equal gram hashes, so the
    // rightmost-min tie-break is actually exercised
    val wordText: Gen[String] = for {
      n <- Gen.choose(0, 60)
      ws <- Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd"))
    } yield ws.mkString(" ")
    val (k, w) = (4, 5)
    val P = graft.text.TextAnalysis.HashP
    def tokHash(t: String): Long =
      t.foldLeft(7L)((a, c) => (a * 131 + c.toInt) % P)
    def reference(text: String): Set[(Long, Long)] = {
      val toks = text.toLowerCase.split(" ", -1).toSeq
      if (toks.length < k + w - 1) Set.empty
      else {
        val ghs = (0 to toks.length - k).map(i =>
          toks.slice(i, i + k).foldLeft(0L)((a, t) => (a * 31 + tokHash(t)) % P))
        (0 to ghs.length - w).flatMap { j =>
          val win = ghs.slice(j, j + w)
          val m = win.min
          val pos = j + win.lastIndexOf(m) // rightmost minimum
          Some((ghs(pos), pos.toLong))
        }.toSet
      }
    }
    val texts = samples(wordText, 40).distinct
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = graft.dedup.Winnowing.fingerprints(df, col("doc_id"), col("text"),
        k, w)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val want = reference(t)
      assert(got.getOrElse(i.toLong, Set.empty) == want,
        s"winnow mismatch on '$t'")
    }
  }

  test("property: Count-Min never undercounts any token on random corpora") {
    val texts = samples(hostileText, 30).filter(_.trim.nonEmpty).distinct
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val out = graft.text.CountMin.heavyHitters(df, col("text"), topK = 10000)
      .as[(String, Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (t, exact, est) =>
      assert(est >= exact, s"undercount for token '$t': $est < $exact")
    }
  }

  test("property: tokenEntropy equals the closed form on random texts") {
    val texts = samples(hostileText, 40).distinct
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = graft.text.TextAnalysis.tokenEntropy(df, col("doc_id"), col("text"))
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val toks = t.toLowerCase.split(" ", -1).toSeq
      val n = toks.length.toDouble
      val want = toks.distinct.map { tok =>
        val p = toks.count(_ == tok) / n
        math.round(-p * math.log(p) * 1e6)
      }.sum
      val (_, nTok, nTyp, h) = got(i.toLong)
      assert(nTok == toks.length && nTyp == toks.distinct.length)
      assert(h == want, s"entropy mismatch on '$t': $h vs $want")
    }
  }

  test("property: containmentPairs equals the brute force on random corpora") {
    val wordText: Gen[String] = for {
      n <- Gen.choose(1, 15)
      ws <- Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff"))
    } yield ws.mkString(" ")
    val texts = samples(wordText, 25).distinct
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val sets = graft.dedup.Jaccard.shingleSets(df, col("doc_id"), col("text"), 1)
    val got = graft.dedup.Jaccard.containmentPairs(sets, sets, threshold = 0.8)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    val bags = texts.zipWithIndex
      .map { case (t, i) => i.toLong -> t.toLowerCase.split(" ", -1).toSet }
    val want = (for {
      (ia, sa) <- bags; (ib, sb) <- bags if ia != ib
      c = (sa & sb).size.toDouble / sa.size
      if BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble >= 0.8
    } yield (ia, ib)).toSet
    assert(got.keySet == want,
      s"containment pairs differ: got ${got.keySet}, want $want")
  }

  test("property: containmentPairsBounded (token-range batched) equals the " +
      "inline containmentPairs on random corpora, at several batch counts") {
    val wordText: Gen[String] = for {
      n <- Gen.choose(1, 15)
      ws <- Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "gg"))
    } yield ws.mkString(" ")
    val texts = samples(wordText, 30).distinct
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val sets = graft.dedup.Jaccard.shingleSets(df, col("doc_id"), col("text"), 1)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.as[(Long, Long, Double)].collect().toSet
    val inline = rows(
      graft.dedup.Jaccard.containmentPairs(sets, sets, threshold = 0.7))
    // batch counts beyond the vocab size force EMPTY batches too — the
    // exactness argument (first shared prefix token lands in exactly one
    // batch) must hold under skewed and vacuous ranges alike
    Seq(1, 3, 16).foreach { b =>
      val work = java.nio.file.Files
        .createTempDirectory(s"graft-cpb-$b").toString
      val got = rows(graft.dedup.Jaccard.containmentPairsBounded(
        sets, sets, threshold = 0.7, tokenBatches = b, workDir = work))
      assert(got == inline, s"tokenBatches=$b drifted from inline")
    }
    // job packing by measured range weight: tiny budgets force many
    // groups + hot-range sub-slicing, a huge budget packs everything into
    // ONE job — all must equal the inline result exactly
    Seq(10L, 500L, Long.MaxValue).foreach { budget =>
      val work = java.nio.file.Files
        .createTempDirectory(s"graft-cpbg-$budget").toString
      val got = rows(graft.dedup.Jaccard.containmentPairsBounded(
        sets, sets, threshold = 0.7, tokenBatches = 16, workDir = work,
        maxPairsPerJob = budget))
      assert(got == inline, s"pairs budget=$budget drifted from inline")
    }
  }

  test("property: hot-range guard (maxPairsPerJob sub-jobs) equals inline " +
      "containment on a constructed hot-token corpus") {
    // EVERY document shares the token "hot" — all of its np·nc candidate
    // pairs land in one token range no matter how many ranges exist (the
    // exact skew the probe-id sub-slicing guards), plus a varied tail so
    // non-hot ranges and the positional filter stay exercised
    val rng = new scala.util.Random(19)
    val tail = Seq("aa", "bb", "cc", "dd", "ee")
    val texts = (0 until 40).map { i =>
      ("hot" +: Seq.fill(1 + rng.nextInt(4))(tail(rng.nextInt(5))))
        .distinct.mkString(" ")
    }
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val sets = graft.dedup.Jaccard.shingleSets(df, col("doc_id"), col("text"), 1)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.as[(Long, Long, Double)].collect().toSet
    val inline = rows(
      graft.dedup.Jaccard.containmentPairs(sets, sets, threshold = 0.6))
    // bounds tight enough to force MANY sub-jobs (hot range weight is
    // ~40·40), loose enough for single jobs, and the no-bound control
    Seq(50L, 400L, Long.MaxValue).foreach { bound =>
      val work = java.nio.file.Files
        .createTempDirectory(s"graft-cpbh-$bound").toString
      val got = rows(graft.dedup.Jaccard.containmentPairsBounded(
        sets, sets, threshold = 0.6, tokenBatches = 3, workDir = work,
        maxPairsPerJob = bound))
      assert(got == inline, s"maxPairsPerJob=$bound drifted from inline")
    }
  }

  // --- retrieval stack vs plain Scala references ---------------------------

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("property: bm25TopK equals the brute-force reference on random corpora") {
    val vocab = Seq("aa", "bb", "cc", "dd", "ee", "ff")
    val corpus: Gen[List[String]] = for {
      n <- Gen.choose(1, 20)
      ds <- Gen.listOfN(n, for {
        m <- Gen.choose(0, 12)
        ws <- Gen.listOfN(m, Gen.oneOf(vocab))
      } yield ws.mkString(" "))
    } yield ds
    // "zz" never occurs: df=0 terms must drop, not crash or score
    val terms = Seq("aa", "cc", "zz")
    samples(corpus, 20).foreach { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val toks = docs.map { case (id, t) => id -> t.toLowerCase.split(" ", -1).toSeq }
      val n = docs.size
      val avgdl = toks.map(_._2.length.toLong).sum.toDouble / n
      val dfm = terms.map(t => t -> toks.count(_._2.contains(t))).toMap
      val idf = terms.filter(dfm(_) > 0).map(t =>
        t -> r6(math.log(1.0 + (n - dfm(t) + 0.5) / (dfm(t) + 0.5)))).toMap
      val expected = toks.flatMap { case (id, ts) =>
        val len = ts.length
        val parts = terms.filter(idf.contains).flatMap { t =>
          val tf = ts.count(_ == t).toDouble
          if (tf > 0)
            Some(math.round(idf(t) * (tf * 2.2 /
              (tf + 1.2 * (0.25 + 0.75 * len / avgdl))) * 1e6))
          else None
        }
        if (parts.isEmpty) None else Some((id, parts.size, parts.sum))
      }.sortBy { case (id, _, s) => (-s, id) }.take(5).toList
      val got = graft.text.Vocab.bm25TopK(docs.toDF("doc_id", "text"),
          col("doc_id"), col("text"), terms, k = 5)
        .as[(Long, Int, Long)].collect().toList
      assert(got == expected, s"bm25 diverged on $texts")
    }
  }

  test("property: mmrSelect equals the brute-force greedy reference on random vectors") {
    // integer components, first one nonzero — exact norms, never NaN
    val vecGen: Gen[Array[Float]] = for {
      h <- Gen.choose(1, 3)
      rest <- Gen.listOfN(3, Gen.choose(-3, 3))
    } yield (h :: rest).map(_.toFloat).toArray
    val caseGen: Gen[(List[Array[Float]], Int)] = for {
      n <- Gen.choose(2, 12)
      vs <- Gen.listOfN(n, vecGen)
      lp <- Gen.oneOf(0, 300, 700, 1000)
    } yield (vs, lp)
    // exact ArrayCosine replica: sequential fold, dot/(sqrt(na)*sqrt(nb))
    def cosMicro(a: Array[Float], b: Array[Float]): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      BigDecimal(r6(dot / (math.sqrt(na) * math.sqrt(nb))) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    samples(caseGen, 15).foreach { case (vs, lp) =>
      val q = vs.head
      val cands = vs.tail.zipWithIndex.map { case (v, i) => ((i + 1).toLong, v) }
      val k = math.min(4, cands.size)
      val rel = cands.map { case (id, v) => id -> cosMicro(v, q) }.toMap
      val byRel = cands.map(_._1).sortBy(id => (-rel(id), id))
      val expected = scala.collection.mutable.ListBuffer(byRel.head)
      while (expected.size < k) {
        val best = cands.map(_._1).filterNot(expected.contains).maxBy { id =>
          val maxSim = expected.map(s =>
            cosMicro(cands.find(_._1 == id).get._2,
              cands.find(_._1 == s).get._2)).max
          (lp * rel(id) - (1000L - lp) * maxSim, -id)
        }
        expected += best
      }
      val df = ((0L, q) :: cands.toList).toDF("vec_id", "embedding")
      val got = graft.sim.Similarity.mmrSelect(df,
          df.filter(col("vec_id") === 0), k = k, candidates = cands.size,
          lambdaPermille = lp)
        .orderBy("sel_rank").as[(Int, Long, Long)].collect().toList
      assert(got.map(_._2) == expected.toList,
        s"mmr diverged: got ${got.map(_._2)}, want $expected (lp=$lp)")
      got.foreach { case (_, id, r) => assert(r == rel(id)) }
    }
  }

  // --- int64-boundary audit of the integer ppm surface ----------------------

  /** Near-boundary long generator: values clustered where int64 arithmetic
    * breaks — around 2^63/10^6, around sqrt(2^63), and the full range —
    * plus small values so quotients exercise both the ≤10⁶ and huge cases.
    */
  private val boundaryLong: Gen[Long] = Gen.oneOf(
    Gen.choose(1L, 1000L),
    Gen.choose(9223372036854L - 1000, 9223372036854L + 1000), // 2^63/1e6
    Gen.choose(3037000499L - 1000, 3037000499L + 1000),       // sqrt(2^63)
    Gen.choose(1L, Long.MaxValue / 1000000L),
    Gen.choose(Long.MaxValue / 2, Long.MaxValue))

  test("property: ppm formulas are exact at int64-boundary operands (t43/a5)") {
    // the PRODUCTION expressions (not copies): sharePpm, skewRatioPpm,
    // liftPpm — evaluated over generated near-boundary operand rows and
    // compared against BigInt reference arithmetic. Operands respect the
    // DATA invariants each formula lives under (cnt ≤ total, max ≤ total,
    // co ≤ min(cnt_a, cnt_b) ≤ N) plus the documented result bounds
    // (skew: distinct ≤ 9.2·10¹² keys; lift: N ≤ 9.2·10¹² baskets — past
    // those the QUOTIENT itself exceeds int64 and ANSI mode raises)
    val ppmCap = 9223372036854L // 2^63 / 1e6
    val ops = samples(for {
      total <- boundaryLong
      cnt <- Gen.choose(1L, total)
      distinct <- Gen.choose(1L, math.min(total, ppmCap))
      maxc <- Gen.choose(1L, total)
      n <- Gen.choose(1L, ppmCap)
      ca <- Gen.choose(1L, n)
      cb <- Gen.choose(1L, n)
      co <- Gen.choose(1L, math.min(ca, cb))
    } yield (cnt, total, distinct, maxc, co, n, ca, cb), 80)
    val df = ops.toDF("cnt", "total_rows", "distinct_keys", "max_cnt",
      "co_count", "__n", "cnt_a", "cnt_b")
    val got = df.select(
      graft.ops.ScaleJoins.sharePpm.as("share"),
      graft.ops.ScaleJoins.skewRatioPpm.as("skew"),
      graft.ops.Associations.liftPpm.as("lift"))
      .collect()
    ops.zip(got).foreach { case ((cnt, tot, dk, mc, co, n, ca, cb), r) =>
      val M = BigInt(1000000)
      assert(BigInt(r.getLong(0)) == BigInt(cnt) * M / tot,
        s"share_ppm wrong at cnt=$cnt total=$tot")
      assert(BigInt(r.getLong(1)) == BigInt(mc) * dk * M / tot,
        s"skew_ratio_ppm wrong at max=$mc distinct=$dk total=$tot")
      assert(BigInt(r.getLong(2)) == BigInt(co) * n * M / (BigInt(ca) * cb),
        s"lift_ppm wrong at co=$co n=$n ca=$ca cb=$cb")
    }
  }

  test("property: mixing emissions are exact with exa-token sources (t18/t40)") {
    // per-source token masses near int64/4 so the corpus total strains the
    // long sum and every DECIMAL product far exceeds int64
    val masses = samples(for {
      a <- Gen.choose(1L, Long.MaxValue / 4)
      b <- Gen.choose(1L, Long.MaxValue / 4)
      c <- Gen.choose(1L, Long.MaxValue / 4)
    } yield Seq(a, b, c), 12)
    masses.foreach { ns =>
      val srcs = Seq("web", "code", "books")
      val df = srcs.zip(ns).map { case (s, n) => (s, n) }.toDF("src", "toks")
      val tgt = Map("web" -> 500, "code" -> 300, "books" -> 200)
      val mw = graft.text.Mixing.mixWeights(df, col("src"), col("toks"), tgt)
        .orderBy("source").collect()
      val tot = ns.map(BigInt(_)).sum
      val M = BigInt(1000000)
      // reference argmax of t/n by exact rational comparison, ties by name
      val byName = srcs.zip(ns).sortBy(_._1)
      val best = byName.reduceLeft { (x, y) =>
        // y beats x iff t_y/n_y > t_x/n_x (cross-product), tie keeps first
        if (BigInt(tgt(y._1)) * x._2 > BigInt(tgt(x._1)) * y._2) y else x
      }
      mw.foreach { r =>
        val s = r.getString(0); val n = BigInt(r.getLong(2))
        assert(BigInt(r.getLong(3)) == n * M / tot, s"actual_share_ppm $s")
        assert(BigInt(r.getLong(5)) ==
          BigInt(tgt(s)) * best._2 * M / (BigInt(tgt(best._1)) * n),
          s"sample_rate_ppm $s (argmax=${best._1})")
      }
      val tw = graft.text.Mixing.temperatureWeights(df, col("src"), col("toks"))
        .orderBy("source").collect()
      val ws = byName.map { case (_, n) =>
        BigInt(math.floor(math.sqrt(n.toDouble / tot.toDouble) * 1e6).toLong)
      }
      val z = ws.sum
      tw.zip(byName).zip(ws).foreach { case ((r, (s, n)), w) =>
        assert(BigInt(r.getLong(4)) == w * M / z, s"temp_share_ppm $s")
        assert(BigInt(r.getLong(5)) == w * tot * M / (z * n), s"boost_ppm $s")
      }
    }
  }

  test("property: TWAP is exact at its documented headroom bound (w10)") {
    // value 5·10⁵ milli held ~30 days in µs: Σ v·dur ≈ 1.3·10¹⁸, the
    // documented int64 ceiling — exactness must hold right up to it
    val gen = for {
      v1 <- Gen.choose(400000L, 500000L)
      v2 <- Gen.choose(400000L, 500000L)
      cut <- Gen.choose(1L, 29L)
    } yield (v1, v2, cut)
    samples(gen, 10).foreach { case (v1, v2, cutDay) =>
      val t0 = "2024-01-01 00:00:00"
      val tc = f"2024-01-${1 + cutDay}%02d 00:00:00"
      val horizon = "2024-01-31 00:00:00"
      val df = Seq(("k", t0, 0L, v1), ("k", tc, 1L, v2))
        .toDF("key", "ts", "seq", "vm")
        .withColumn("ts", to_timestamp(col("ts")))
      val out = graft.ops.Scd2.timeWeightedMean(df, col("key"), col("ts"),
        col("seq"), col("vm"), horizon).collect().head
      val usDay = 86400000000L
      val d1 = BigInt(cutDay) * usDay
      val d2 = BigInt(30 - cutDay) * usDay
      val expect = (BigInt(v1) * d1 + BigInt(v2) * d2) / (d1 + d2)
      assert(BigInt(out.getLong(2)) == expect,
        s"twap_milli at v1=$v1 v2=$v2 cut=$cutDay")
    }
  }

  test("property: native RabinFingerprint equals the HOF formulation on hostile text") {
    val texts = (samples(hostileText, 60) ++ Seq("", " ", "  a  b ", "é 中文 😀"))
      .distinct
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val rows = df.select(col("text"),
        graft.text.TextAnalysis.fingerprint(col("text")).as("native"),
        graft.text.TextAnalysis.fingerprintHof(col("text")).as("hof"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"fingerprint mismatch on ${r.getString(0)}: ${r.getLong(1)} vs ${r.getLong(2)}")
    }
  }

  test("property: largestRemainder — exact budget, Hamilton quota bound") {
    val cases: Gen[(Seq[Long], Long)] = for {
      n <- Gen.choose(1, 12)
      masses <- Gen.listOfN(n, Gen.choose(0L, 5000L))
      if masses.sum > 0
      budget <- Gen.choose(0L, 2000L)
    } yield (masses, budget)
    samples(cases, 25).foreach { case (masses, budget) =>
      val df = masses.zipWithIndex
        .map { case (m, i) => (f"s$i%03d", m) }.toDF("s", "m")
      val out = graft.text.Mixing
        .largestRemainder(df, col("s"), col("m"), budget)
        .as[(String, Long, Long)].collect().toSeq
      val tot = masses.sum
      assert(out.map(_._3).sum == budget,
        s"sum != budget for masses=$masses budget=$budget: $out")
      out.foreach { case (s, m, alloc) =>
        // Hamilton stays within the quota interval [floor, ceil]
        val floorQ = budget * m / tot
        val ceilQ = floorQ + (if (budget * m % tot == 0) 0 else 1)
        assert(alloc >= floorQ && alloc <= ceilQ,
          s"$s: alloc $alloc outside [$floorQ, $ceilQ] " +
            s"(masses=$masses budget=$budget)")
      }
    }
  }

  test("property: Quantiles.exact equals the sorted-rank reference") {
    val cases: Gen[(Seq[Long], Seq[Long])] = for {
      n <- Gen.choose(1, 40)
      vals <- Gen.listOfN(n, Gen.choose(-50L, 50L))   // dense → many dups
      ppms <- Gen.listOfN(3, Gen.choose(1L, 1000000L))
    } yield (vals, ppms)
    samples(cases, 20).foreach { case (vals, ppms) =>
      val df = vals.map(("g", _)).toDF("g", "v")
      val qs = ppms.zipWithIndex.map { case (p, i) => (s"q$i", p) }
      val row = graft.ops.Quantiles.exact(df, col("g"), col("v"), qs)
        .collect().head
      val sorted = vals.sorted
      qs.zipWithIndex.foreach { case ((_, ppm), i) =>
        // percentile_disc: element at rank ceil(ppm/1e6 · n), 1-based
        val rank = ((ppm * vals.length + 999999L) / 1000000L).toInt
        val expected = sorted(rank - 1)
        assert(row.getLong(2 + i) == expected,
          s"vals=$vals ppm=$ppm: got ${row.getLong(2 + i)}, want $expected")
      }
    }
  }

  test("property: positionCredit always sums to exactly 1e6 per conversion") {
    val cases: Gen[Int] = Gen.choose(1, 25)
    samples(cases, 25).foreach { nTouches =>
      val events = (1 to nTouches).map(i =>
        (1L, new java.sql.Timestamp(i * 1000L), i.toLong, "view")) :+
        ((1L, new java.sql.Timestamp(999999000L), 9999L, "purchase"))
      val out = graft.ops.Attribution.positionCredit(
          events.toDF("user_id", "ts", "event_id", "event_type"),
          col("user_id"), col("ts"), col("event_id"),
          col("event_type") === "view", col("event_type") === "purchase",
          lookbackSeconds = 2000000L)
        .select("position", "credit_ppm").as[(Int, Long)].collect().toSeq
      assert(out.length == nTouches)
      assert(out.map(_._2).sum == 1000000L, s"n=$nTouches: $out")
      // U-shape: ends never score below any middle
      if (nTouches >= 3) {
        val byPos = out.toMap
        val mids = out.filter(p => p._1 != 0 && p._1 != nTouches - 1)
        assert(mids.forall(_._2 <= byPos(0)) &&
          mids.forall(_._2 <= byPos(nTouches - 1)))
      }
    }
  }

  test("property: CdcMerge equals an in-memory latest-wins reference") {
    val cases: Gen[(Seq[(Long, Long)], Seq[(Long, Long, Long, String, Long)])] =
      for {
        nSnap <- Gen.choose(0, 8)
        snap <- Gen.listOfN(nSnap, for {
          k <- Gen.choose(1L, 10L); v <- Gen.choose(0L, 999L)
        } yield (k, v))
        nChg <- Gen.choose(0, 20)
        chg <- Gen.listOfN(nChg, for {
          k <- Gen.choose(1L, 12L)
          us <- Gen.choose(0L, 5L)        // dense → frequent ties
          op <- Gen.oneOf("I", "U", "D")
          v <- Gen.choose(0L, 999L)
        } yield (k, us, op, v))
      } yield (snap.distinctBy(_._1),
        chg.zipWithIndex.map { case ((k, us, op, v), i) =>
          (k, us, i.toLong, op, v) })
    samples(cases, 20).foreach { case (snap, chg) =>
      val snapDf = (snap :+ ((999L, 0L))).toDF("k", "sv") // never-empty frame
      val chgDf = ((1L, new java.sql.Timestamp(0L), -1L, "U", 0L) +: chg.map {
        case (k, us, eid, op, v) =>
          (k, new java.sql.Timestamp(us), eid, op, v)
      }).toDF("k", "ts", "eid", "op", "vm")
      val got = graft.ops.CdcMerge.merge(snapDf, col("k"), col("sv"),
          chgDf, col("k"), col("ts"), col("eid"), col("op"), col("vm"))
        .as[(Long, String, Long, Option[Long])].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      // in-memory reference
      val allChg = (1L, 0L, -1L, "U", 0L) +: chg
      val latest = allChg.groupBy(_._1).map { case (k, rows) =>
        k -> rows.maxBy(r => (r._2 * 1000L, r._3))
      }
      val expected = ((snap :+ ((999L, 0L))).map(_._1) ++ latest.keys).distinct
        .flatMap { k =>
          latest.get(k) match {
            case Some((_, _, _, "D", _)) => None
            case Some((_, _, _, _, v)) => Some(k -> (("changelog", v)))
            case None =>
              (snap :+ ((999L, 0L))).find(_._1 == k)
                .map(s => k -> (("snapshot", s._2)))
          }
        }.toMap
      assert(got == expected, s"snap=$snap chg=$chg:\n$got\nvs\n$expected")
    }
  }

  test("property: lengthBatches — sizes bounded, waste consistent, docs conserved") {
    val cases: Gen[Seq[Int]] = for {
      n <- Gen.choose(1, 60)
      lens <- Gen.listOfN(n, Gen.choose(1, 40))
    } yield lens
    samples(cases, 15).foreach { lens =>
      val docs = lens.zipWithIndex
        .map { case (l, i) => (i.toLong, Seq.fill(l)("w").mkString(" ")) }
        .toDF("doc_id", "text")
      val out = graft.text.Chunking
        .lengthBatches(docs, col("doc_id"), col("text"),
          binWidth = 8, batchSize = 4)
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
      assert(out.map(_._3).sum == lens.length.toLong) // every doc batched
      out.foreach { case (bin, batch, n, maxLen, sumLen, waste) =>
        assert(n >= 1 && n <= 4)
        assert(maxLen / 8 == bin)                      // max stays in bin
        assert(sumLen <= n * maxLen && sumLen >= n * (bin * 8).max(1))
        assert(waste == (n * maxLen - sumLen) * 1000000L / (n * maxLen))
        // only the LAST batch of a bin may be partial
        if (n < 4)
          assert(batch == out.filter(_._1 == bin).map(_._2).max,
            s"partial batch $batch not last in bin $bin: $out")
      }
    }
  }

  test("property: Ewma.smooth equals an in-memory integer fold, any order") {
    val cases: Gen[Seq[(Long, Long, Long)]] = for {
      n <- Gen.choose(1, 30)
      rows <- Gen.listOfN(n, for {
        us <- Gen.choose(0L, 50L)     // dense → frequent (ts, eid) ties
        vm <- Gen.choose(-10000L, 10000L)
      } yield (us, vm))
    } yield rows.zipWithIndex.map { case ((us, vm), i) =>
      (us, i.toLong, vm)
    }
    val alpha = 300000L
    samples(cases, 20).foreach { rows =>
      val df = rows
        .map { case (us, eid, vm) =>
          (1L, new java.sql.Timestamp(us), eid, vm)
        }
        .toDF("user_id", "ts", "event_id", "vm")
      val got = graft.ops.Ewma.smooth(df, col("user_id"), col("ts"),
          col("event_id"), col("vm"), alpha)
        .select("ewma_milli").as[Long].head()
      val expected = rows
        .sortBy { case (us, eid, _) => (us, eid) }
        .map(_._3)
        .reduceLeft((s, v) => (alpha * v + (1000000L - alpha) * s) / 1000000L)
      assert(got == expected, s"rows=$rows: $got != $expected")
    }
  }

  test("property: Ewma.holt equals an in-memory (level, trend) fold") {
    val cases: Gen[Seq[(Long, Long, Long)]] = for {
      n <- Gen.choose(1, 30)
      rows <- Gen.listOfN(n, for {
        us <- Gen.choose(0L, 50L)
        vm <- Gen.choose(-10000L, 10000L)   // negatives exercise DIV
      } yield (us, vm))
    } yield rows.zipWithIndex.map { case ((us, vm), i) =>
      (us, i.toLong, vm)
    }
    val (a, na, b, nb) = (200000L, 800000L, 300000L, 700000L)
    samples(cases, 20).foreach { rows =>
      val df = rows
        .map { case (us, eid, vm) =>
          (1L, new java.sql.Timestamp(us), eid, vm)
        }
        .toDF("user_id", "ts", "event_id", "vm")
      val got = graft.ops.Ewma.holt(df, col("user_id"), col("ts"),
          col("event_id"), col("vm"), a, b)
        .select("level_milli", "trend_milli").as[(Long, Long)].head()
      val vs = rows.sortBy { case (us, eid, _) => (us, eid) }.map(_._3)
      val expected = vs.tail.foldLeft((vs.head, 0L)) { case ((l, t), v) =>
        val ln = (a * v + na * (l + t)) / 1000000L
        (ln, (b * (ln - l) + nb * t) / 1000000L)
      }
      assert(got == expected, s"rows=$rows: $got != $expected")
    }
  }

  test("property: timeDecayCredit — exact 1e6 split, floor/ceil quota") {
    val cases: Gen[Seq[Long]] = for {
      n <- Gen.choose(1, 20)
      ages <- Gen.listOfN(n, Gen.choose(1L, 2000000L)) // seconds back
    } yield ages
    samples(cases, 20).foreach { ages =>
      val convUs = 3000000L * 1000000L
      val events = ages.zipWithIndex.map { case (ageS, i) =>
        (1L, new java.sql.Timestamp((convUs / 1000000L - ageS) * 1000L),
          (i + 1).toLong, "view")
      } :+ ((1L, new java.sql.Timestamp(convUs / 1000L), 9999L, "purchase"))
      val out = graft.ops.Attribution.timeDecayCredit(
          events.toDF("user_id", "ts", "event_id", "event_type"),
          col("user_id"), col("ts"), col("event_id"),
          col("event_type") === "view", col("event_type") === "purchase",
          lookbackSeconds = 3000000L, halflifeSeconds = 3600L)
        .select("weight", "credit_ppm").as[(Long, Long)].collect().toSeq
      assert(out.length == ages.length)
      assert(out.map(_._2).sum == 1000000L, s"ages=$ages: $out")
      val w = out.map(_._1)
      assert(w.forall(x => x >= 1 && (x & (x - 1)) == 0),
        s"weights must be powers of two >= 1: $w")
      val totalW = w.map(BigInt(_)).sum
      out.foreach { case (wi, credit) =>
        val floorQ = (BigInt(wi) * 1000000 / totalW).toLong
        assert(credit == floorQ || credit == floorQ + 1,
          s"credit $credit outside Hamilton [floor, floor+1] " +
            s"(w=$wi, W=$totalW, ages=$ages)")
      }
    }
  }

  test("property: Gini stays in [0, 1e6), zero iff uniform, reference-exact") {
    val cases: Gen[Seq[Long]] = for {
      n <- Gen.choose(1, 30)
      vals <- Gen.listOfN(n, Gen.choose(0L, 500L))
      if vals.sum > 0
    } yield vals
    samples(cases, 20).foreach { vals =>
      val df = vals.map(("g", _)).toDF("g", "v")
      val got = graft.ops.Gini.perGroup(df, col("g"), col("v"))
        .select("gini_ppm").as[Option[Long]].head().get
      // in-memory rank-formula reference
      val sorted = vals.sorted
      val n = vals.length.toLong
      val sx = BigInt(vals.sum)
      val s2 = sorted.zipWithIndex
        .map { case (x, i) => BigInt(2) * (i + 1) * x }.sum
      val expected = ((s2 - BigInt(n + 1) * sx) * 1000000 /
        (BigInt(n) * sx)).toLong
      assert(got == expected, s"vals=$vals: $got != $expected")
      assert(got >= 0 && got < 1000000, s"out of range: $got for $vals")
      if (vals.distinct.size == 1) assert(got == 0L)
    }
  }

  test("property: FuzzyMatch equals brute-force Levenshtein<=1 pairs") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val word: Gen[String] = for {
      n <- Gen.choose(1, 6)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))
    } yield cs.mkString
    val cases: Gen[Seq[String]] = for {
      n <- Gen.choose(2, 15)
      ws <- Gen.listOfN(n, word)
    } yield ws
    samples(cases, 15).foreach { ws =>
      val df = ws.zipWithIndex.map { case (w, i) => ((i + 1).toLong, w) }
        .toDF("id", "name")
      val got = graft.ops.FuzzyMatch.selfPairs(df, col("id"), col("name"))
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val expected = (for {
        i <- ws.indices; j <- ws.indices if i < j
        if lev(ws(i), ws(j)) <= 1
      } yield ((i + 1).toLong, (j + 1).toLong)).toSet
      assert(got == expected, s"words=$ws:\n got $got\n exp $expected")
    }
  }

  test("property: phraseSearch equals a naive sliding-window reference") {
    val cases: Gen[(Seq[String], Seq[String])] = for {
      n <- Gen.choose(0, 15)
      toks <- Gen.listOfN(n, Gen.oneOf("x", "y", "z"))
      plen <- Gen.choose(2, 3)
      phrase <- Gen.listOfN(plen, Gen.oneOf("x", "y", "z"))
    } yield (toks, phrase)
    samples(cases, 20).foreach { case (toks, phrase) =>
      val df = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
      val got = graft.text.Vocab.phraseSearch(df, col("doc_id"),
          col("text"), phrase)
        .select("n_matches", "first_pos").as[(Long, Long)]
        .collect().toSeq
      // reference over the RAW split (empty text splits to [""])
      val raw = toks.mkString(" ").split(" ", -1).toSeq
      val hits = raw.indices.filter(i => i + phrase.length <= raw.length &&
        phrase.indices.forall(j => raw(i + j) == phrase(j)))
      val expected =
        if (hits.isEmpty) Seq.empty
        else Seq((hits.length.toLong, hits.head.toLong))
      assert(got == expected,
        s"toks=$toks phrase=$phrase: $got != $expected")
    }
  }

  test("property: kaplanMeier equals an in-memory KM with censoring") {
    val cases: Gen[Seq[(Long, Long)]] = for {
      n <- Gen.choose(1, 25)
      users <- Gen.listOfN(n, for {
        first <- Gen.choose(0L, 20L)
        span <- Gen.choose(0L, 15L)
      } yield (first, span))
    } yield users
    samples(cases, 20).foreach { users =>
      val events = users.zipWithIndex.flatMap { case ((first, span), i) =>
        Seq((i.toLong, new java.sql.Timestamp(first * 86400000L)),
          (i.toLong, new java.sql.Timestamp((first + span) * 86400000L)))
      }
      val got = graft.ops.Survival.kaplanMeier(
          events.toDF("user_id", "ts"), col("user_id"), col("ts"),
          churnGapDays = 7)
        .orderBy("duration_days")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
      // in-memory reference
      val edge = users.map { case (f, s) => f + s }.max
      val lts = users.map { case (f, s) => (s, edge - (f + s) >= 7) }
      val byT = lts.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, g) =>
        (t, g.count(_._2).toLong, g.count(!_._2).toLong)
      }
      var risk = lts.size.toLong
      var s = 1000000L
      val expected = byT.map { case (t, d, c) =>
        s = s * (risk - d) / risk
        val row = (t, risk, d, c, s)
        risk -= (d + c)
        row
      }
      assert(got == expected, s"users=$users:\n$got\n$expected")
      // survival is monotone nonincreasing
      assert(got.map(_._5).sliding(2).forall(p =>
        p.length < 2 || p(0) >= p(1)))
    }
  }

  // --- k-core invariants ----------------------------------------------------

  private val randomEdges: Gen[List[(Long, Long)]] =
    Gen.listOf(for {
      u <- Gen.choose(0L, 11L)
      v <- Gen.choose(0L, 11L)
    } yield (u, v))

  test("property: k-core has min degree >= k and nests (k+1)-core ⊆ k-core") {
    samples(randomEdges, 12).filter(_.nonEmpty).foreach { edges =>
      val df = edges.toDF("src", "dst")
      val core2 = graft.graph.KCore.decompose(df, k = 2, maxRounds = 12)
        .as[(Long, Long)].collect().toMap
      val core3 = graft.graph.KCore.decompose(df, k = 3, maxRounds = 12)
        .as[(Long, Long)].collect().toMap
      assert(core2.values.forall(_ >= 2), s"degree < k in 2-core: $edges")
      assert(core3.keySet.subsetOf(core2.keySet),
        s"3-core not nested in 2-core: $edges")
      // in-memory reference peel for k=2
      var es = edges.map { case (u, v) => (u min v, u max v) }
        .filter(e => e._1 != e._2).distinct
      var changed = true
      while (changed) {
        val deg = es.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
          .map { case (n, g) => n -> g.size }
        val alive = deg.filter(_._2 >= 2).keySet
        val kept = es.filter(e => alive(e._1) && alive(e._2))
        changed = kept.size != es.size
        es = kept
      }
      val ref = es.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
        .map { case (n, g) => n -> g.size.toLong }
      assert(core2 == ref, s"2-core mismatch for $edges:\n$core2\n$ref")
    }
  }

  // --- Holt–Winters reference equality -------------------------------------

  test("property: holtWinters equals the integer reference fold on random series") {
    val gen = for {
      n <- Gen.choose(8, 30)
      vs <- Gen.listOfN(n, Gen.choose(-1000L, 1000L))
    } yield vs
    val (a, na) = (200000L, 800000L); val (b, nb) = (300000L, 700000L)
    val (g, ng) = (400000L, 600000L)
    samples(gen, 15).foreach { vs =>
      val rows = vs.zipWithIndex.map { case (v, i) =>
        (1L, new java.sql.Timestamp(1000L * (i + 1)), i.toLong, v)
      }
      var (l, tr, i) = (0L, 0L, 0)
      val s = Array.fill(8)(0L)
      for (v <- vs) {
        if (i < 6) { l += v; s(i + 1) = v; i += 1 }
        else if (i == 6) {
          val lf = (l + v) / 7
          for (k <- 1 to 6) s(k) -= lf
          s(7) = v - lf; l = lf; tr = 0; i = 7
        } else {
          val j = (i % 7) + 1; val sj = s(j)
          val ln = (a * (v - sj) + na * (l + tr)) / 1000000
          val bn = (b * (ln - l) + nb * tr) / 1000000
          s(j) = (g * (v - ln) + ng * sj) / 1000000
          l = ln; tr = bn; i += 1
        }
      }
      val jn = (vs.size % 7) + 1
      val out = graft.ops.Ewma.holtWinters(
          rows.toDF("user_id", "ts", "event_id", "vm"), col("user_id"),
          col("ts"), col("event_id"), col("vm"), a, b, g)
        .as[(Long, Long, Long, Long, Long, Long, Long)].collect().head
      assert((out._4, out._5, out._6, out._7) ==
        ((l, tr, s(jn), l + tr + s(jn))), s"series $vs")
    }
  }

  // --- keep-best cluster dedup invariants ----------------------------------

  test("property: keepBest keeps exactly one member per cluster, the best one") {
    val gen = for {
      n <- Gen.choose(2, 10)
      scores <- Gen.listOfN(n, Gen.choose(1L, 50L))
      pairs <- Gen.listOf(for {
        a <- Gen.choose(0L, (n - 1).toLong)
        b <- Gen.choose(0L, (n - 1).toLong)
      } yield (a, b))
    } yield (scores, pairs.filter(p => p._1 != p._2))
    samples(gen, 12).filter(_._2.nonEmpty).foreach { case (scores, pairs) =>
      val docs = scores.zipWithIndex
        .map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "n_chars")
      val kept = graft.dedup.Clusters.keepBest(docs, col("doc_id"),
          col("n_chars"), pairs.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      // reference union-find
      val parent = Array.tabulate(scores.size)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(ra) = rb
      }
      val mentioned = pairs.flatMap(p => Seq(p._1, p._2)).map(_.toInt).toSet
      val clusters = mentioned.groupBy(find)
      val expect = clusters.values.map(c =>
        c.maxBy(i => (scores(i), i)).toLong).toSet ++
        (scores.indices.toSet -- mentioned).map(_.toLong)
      assert(kept.keySet == expect,
        s"scores=$scores pairs=$pairs:\n${kept.keySet}\n$expect")
      // same cluster count as min-id survivorship, different representative
      val minId = graft.dedup.Clusters.dropNearDuplicates(docs,
        col("doc_id"), pairs.toDF("id_a", "id_b")).count()
      assert(kept.size.toLong == minId)
    }
  }

  test("property: Incremental.merge is split-invariant for any batch boundary") {
    import graft.ops.Incremental
    val rows: Gen[List[(Long, Long, Long)]] = for {
      n <- Gen.choose(1, 24)
      rs <- Gen.listOfN(n, for {
        k <- Gen.choose(1L, 4L)
        t <- Gen.choose(0L, 100L)
        v <- Gen.choose(-1000L, 1000L)
      } yield (k, t, v))
    } yield rs
    samples(rows, 10).foreach { rs =>
      val df = rs.map { case (k, t, v) =>
        (k, new java.sql.Timestamp(1704067200000L + t * 60000), v)
      }.toDF("k", "ts", "v")
      val full = Incremental.state(df, col("k"), col("ts"), col("v"))
        .orderBy("key").collect().toSeq
      // any split point gives the same merged state
      Seq(20L, 50L, 80L).foreach { cut =>
        val ts0 = new java.sql.Timestamp(1704067200000L + cut * 60000)
        val merged = Incremental.merge(Seq(
            Incremental.state(df.filter(col("ts") < lit(ts0)), col("k"),
              col("ts"), col("v")),
            Incremental.state(df.filter(col("ts") >= lit(ts0)), col("k"),
              col("ts"), col("v"))))
          .orderBy("key").collect().toSeq
        assert(merged == full, s"cut=$cut rows=$rs")
      }
    }
  }

  test("property: retract inverts state for any delete subset (group law)") {
    import graft.ops.Incremental
    val rows: Gen[(List[(Long, Long)], Int)] = for {
      n <- Gen.choose(1, 20)
      rs <- Gen.listOfN(n, for {
        k <- Gen.choose(1L, 4L); v <- Gen.choose(-500L, 500L)
      } yield (k, v))
      mask <- Gen.choose(0, (1 << math.min(n, 16)) - 1)
    } yield (rs, mask)
    samples(rows, 12).foreach { case (rs, mask) =>
      val all = rs.toDF("k", "v")
      val dels = rs.zipWithIndex.filter { case (_, i) =>
        i < 16 && ((mask >> i) & 1) == 1
      }.map(_._1)
      val survivors = rs.zipWithIndex.filterNot { case (_, i) =>
        i < 16 && ((mask >> i) & 1) == 1
      }.map(_._1)
      val out = Incremental.retract(
          Incremental.retractableState(all, col("k"), col("v")),
          Incremental.retractableState(
            if (dels.nonEmpty) dels.toDF("k", "v")
            else Seq.empty[(Long, Long)].toDF("k", "v"),
            col("k"), col("v")))
        .orderBy("key").collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val expect = survivors.groupBy(_._1).map { case (k, vs) =>
        (k, vs.size.toLong, vs.map(_._2).sum)
      }.toSeq.sortBy(_._1)
      assert(out == expect, s"rows=$rs mask=$mask")
    }
  }

  test("property: spanCorruption spans never overlap and respect doc length") {
    import graft.text.Chunking
    val docGen: Gen[List[Int]] = for {
      n <- Gen.choose(1, 12)
      lens <- Gen.listOfN(n, Gen.choose(0, 90))
    } yield lens
    samples(docGen, 8).foreach { lens =>
      val docs = lens.zipWithIndex.map { case (l, i) =>
        (i.toLong + 1, (1 to math.max(l, 1)).map(j => s"w$j").mkString(" "))
      }.toDF("doc_id", "text")
      val spans = Chunking.spanCorruption(docs, col("doc_id"), col("text"),
          window = 20, spanLen = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
      spans.groupBy(_._1).foreach { case (id, ss) =>
        val nToks = math.max(lens(id.toInt - 1), 1)
        assert(ss.length == nToks / 20, s"doc $id: ${ss.length} spans")
        ss.foreach { case (_, w, start, len) =>
          assert(start >= w * 20 && start + len <= (w + 1) * 20)
          assert(start + len <= nToks)
        }
        // block-local placement → pairwise disjoint by construction
        val sorted = ss.sortBy(_._3)
        sorted.sliding(2).foreach {
          case Array(a, b) => assert(a._3 + a._4 <= b._3)
          case _ =>
        }
      }
    }
  }
}
